package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run.
  *
  * Benchmark spans (one per job call, with build / plan / exec children,
  * and one per probe call) are opened on the job thread. While a span is
  * open its id is set as a Spark local property, so every Spark job the
  * span starts carries it; the listener turns those jobs and their
  * stages into child spans, and attributes task metrics to them.
  *
  * All times are nanoTime-based; listener wall-clock milliseconds are
  * shifted onto the same scale.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nanoOf(ms: Long): Long = ms * 1000000L + wallToNano

  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  private val open = mutable.Stack[Long]()

  /** Id of the innermost open span, or -1. */
  def current: Long = open.headOption.getOrElse(-1L)

  /** Open a span under the innermost open one and run `body` inside it. */
  def span[A](name: String, pass: Int, sc: org.apache.spark.SparkContext)(body: => A): A = {
    val parent = open.headOption.getOrElse(-1L)
    val s = synchronized {
      nextId += 1
      val s = Span(nextId, parent, name, pass, System.nanoTime(), 0L)
      spans += s
      s
    }
    open.push(s.id)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      open.pop()
      sc.setLocalProperty(SpanProp, open.headOption.map(_.toString).orNull)
    }
  }

  // ---- listener side (listener-bus thread) ------------------------------
  val jobs = mutable.LinkedHashMap[Int, SparkSpan]()
  val stages = mutable.LinkedHashMap[Int, SparkSpan]()
  private val stageJob = mutable.HashMap[Int, Int]()
  val tasks = mutable.ArrayBuffer[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = SparkSpan(e.jobId, parent, nanoOf(e.time), 0L)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = nanoOf(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (sub <- i.submissionTime; done <- i.completionTime)
      stages(i.stageId) = SparkSpan(i.stageId, stageJob.getOrElse(i.stageId, -1).toLong,
        nanoOf(sub), nanoOf(done))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    val job = stageJob.getOrElse(e.stageId, -1)
    if (m == null) tasks += TaskRec(job, nanoOf(info.launchTime), nanoOf(info.finishTime),
      failed = true, 0, 0, 0, 0, 0, 0, 0, 0)
    else tasks += TaskRec(job, nanoOf(info.launchTime), nanoOf(info.finishTime),
      failed = info.failed || info.killed,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, pass: Int,
      start: Long, var end: Long)
  /** A Spark job (parent = benchmark span id) or stage (parent = job id). */
  final case class SparkSpan(id: Int, parent: Long, start: Long, var end: Long)
  final case class TaskRec(job: Int, start: Long, end: Long, failed: Boolean,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, inBytes: Long, inRecords: Long)

  /** Total length of the union of [start, end) intervals, clipped to [lo, hi). */
  def covered(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val sorted = iv.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
