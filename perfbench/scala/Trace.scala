package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed layer span: wall interval in the JVM, its parent span (0 at
  * the top), the request/operation it belongs to, and whether the call
  * threw. Spans live in memory until the run ends. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
                      phase: String, startNs: Long, endNs: Long,
                      failed: Boolean)

/** Span recorder. `span` is the only entry point the workloads use: with
  * tracing off it just runs the body; with tracing on it records the span
  * and tags every Spark job submitted from inside it (through the
  * `perfbench.span` local property, which threads started inside the span
  * inherit) so [[JobAttribution]] can charge the job's tasks to the
  * innermost enclosing span. */
object Trace {
  val Prop = "perfbench.span"

  @volatile var on = false
  @volatile var phase = "setup"

  private val ids = new AtomicLong(0)
  private val closed = new ConcurrentLinkedQueue[Span]()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val request = ThreadLocal.withInitial[java.lang.Long](() => -1L)

  def spans: Seq[Span] = closed.asScala.toSeq

  /** Mark the calling thread as serving operation `req` (a request or a
    * dedup pass); spans opened on it carry the id. */
  def withRequest[T](req: Long)(body: => T): T = {
    val prev = request.get
    request.set(req)
    try body finally request.set(prev)
  }

  def span[T](sc: SparkContext, name: String)(body: => T): T = {
    if (!on) return body
    val id = ids.incrementAndGet()
    val parent: Long = current.get
    val prevProp = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, id.toString)
    current.set(id)
    val t0 = System.nanoTime()
    var failed = true
    try {
      val r = body
      failed = false
      r
    } finally {
      closed.add(Span(id, parent, name, request.get, phase, t0,
        System.nanoTime(), failed))
      sc.setLocalProperty(Prop, prevProp)
      current.set(parent)
    }
  }
}

/** Per-span Spark work, summed over the jobs submitted under the span. */
final class SpanWork {
  var jobs = 0L
  var dimJobs = 0L         // jobs whose call site is in IdentifierDim (builds)
  var tasks = 0L
  var failedTasks = 0L
  var busyMs = 0L          // summed executor run time
  var waitMs = 0L          // job submitted -> first task launched
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  /** (task count, max task ms, median task ms) per stage with >= 2 tasks */
  val stageSkew = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "dim_jobs" -> dimJobs, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "busy_ms" -> busyMs, "wait_ms" -> waitMs,
    "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite,
    "spill" -> spill, "records_read" -> recordsRead,
    "bytes_written" -> bytesWritten,
    "stage_skew" -> stageSkew.map { case (n, mx, md) => Seq(n, mx, md) }.toSeq)
}

/** SparkListener that charges jobs, tasks, shuffle, spill and scheduler
  * wait to the span whose id the submitting thread carried. Registered
  * only while tracing is on. */
final class JobAttribution extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val jobSubmit = mutable.Map.empty[Int, Long]
  private val jobStarted = mutable.Set.empty[Int]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val work = mutable.Map.empty[Long, SpanWork]

  def result: Map[Long, SpanWork] = synchronized(work.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Prop)))
    prop.foreach { s =>
      val span = s.toLong
      jobSpan(e.jobId) = span
      jobSubmit(e.jobId) = e.time
      e.stageIds.foreach(stageJob(_) = e.jobId)
      val w = work.getOrElseUpdate(span, new SpanWork)
      w.jobs += 1
      if (e.stageInfos.exists(_.name.contains("IdentifierDim"))) w.dimJobs += 1
    }
  }

  private def spanOfStage(stageId: Int): Option[Long] =
    stageJob.get(stageId).flatMap(jobSpan.get)

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageJob.get(e.stageId).foreach { job =>
      if (jobSpan.contains(job) && jobStarted.add(job))
        work(jobSpan(job)).waitMs +=
          math.max(0L, e.taskInfo.launchTime - jobSubmit(job))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    spanOfStage(e.stageId).foreach { span =>
      val w = work(span)
      w.tasks += 1
      if (!e.taskInfo.successful) w.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.busyMs += m.executorRunTime
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.recordsRead += m.inputMetrics.recordsRead
        w.bytesWritten += m.outputMetrics.bytesWritten
      }
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    for (ds <- stageTasks.remove(key); span <- spanOfStage(key._1)
         if ds.length >= 2) {
      val sorted = ds.sorted
      work(span).stageSkew += ((sorted.length, sorted.last,
        sorted(sorted.length / 2)))
    }
  }
}
