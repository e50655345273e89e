package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark drains
  * it before reading [[perfbench.JobAttribution]] so no task of a finished
  * span is missed. `listenerBus` is `private[spark]`, hence this package. */
object PerfbenchListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
