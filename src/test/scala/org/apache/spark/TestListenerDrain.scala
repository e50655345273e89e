package org.apache.spark

/** The listener bus delivers events asynchronously; a spec that counts
  * jobs with a listener drains the bus before reading its count.
  * `listenerBus` is `private[spark]`, hence this package. */
object TestListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
