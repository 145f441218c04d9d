package perfbench

import java.nio.file.{Files, Paths}

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import Tracer.covered

/** Per-layer metrics of a traced run: each is summed over one traced pass
  * (peaks: the largest value in the pass), and the median over traced
  * passes is reported. Self time of a layer is its spans' duration minus
  * the part covered by their child spans.
  */
object Layers {

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def summarize(tr: Tracer, bench: Bench, passes: Set[Int], cores: Int): Seq[(String, (Double, String))] = {
    val MB = 1048576.0
    val spans = tr.spans.filter(s => passes(s.pass))
    val byParent = spans.groupBy(_.parent)
    val jobsBySpan = tr.jobs.values.groupBy(_.parent)
    val stagesByJob = tr.stages.values.groupBy(_.parent)
    val tasksByJob = tr.tasks.groupBy(_.job)
    def dur(a: Long, b: Long) = (b - a).toDouble
    def sparkJobsOf(spanId: Long) = jobsBySpan.getOrElse(spanId, Nil)
    def tasksOfSpan(spanId: Long) = sparkJobsOf(spanId).flatMap(j => tasksByJob.getOrElse(j.id, Nil))
    def selfOf(s: Tracer.Span): Double = s.name match {
      case "call" => dur(s.start, s.end) - covered(
        byParent.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      case _ => dur(s.start, s.end) - covered(
        sparkJobsOf(s.id).map(j => (j.start, j.end)), s.start, s.end)
    }

    val perPass = passes.toSeq.sorted.map { p =>
      val ps = spans.filter(_.pass == p)
      val calls = ps.filter(_.name == "call")
      def phases(n: String) = ps.filter(_.name == n)
      // every span of a call, so Spark jobs started anywhere inside count
      val jobs = ps.flatMap(s => sparkJobsOf(s.id))
      val tasks = jobs.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
      val stages = jobs.flatMap(j => stagesByJob.getOrElse(j.id.toLong, Nil))
      val wall = calls.map(c => dur(c.start, c.end)).sum
      val driverOnly = calls.map { c =>
        val mine = (c +: byParent.getOrElse(c.id, Nil)).flatMap(s => tasksOfSpan(s.id))
        dur(c.start, c.end) - covered(mine.map(t => (t.start, t.end)), c.start, c.end)
      }.sum
      val stats = bench.callStats.filter(_.pass == p)
      val taskRunMs = tasks.map(_.runMs).sum.toDouble
      Map[String, (Double, String)](
        "sources.scan_rows" -> (tasks.map(_.inRecords).sum.toDouble, "count"),
        "sources.scan_mb" -> (tasks.map(_.inBytes).sum / MB, "MB"),
        "queries.build_s" -> (phases("queries.build").map(s => dur(s.start, s.end)).sum / 1e9, "s"),
        "queries.build_jobs" -> (phases("queries.build").map(s => sparkJobsOf(s.id).size).sum.toDouble, "count"),
        "queries.plan_s" -> (phases("queries.plan").map(s => dur(s.start, s.end)).sum / 1e9, "s"),
        "exec.s" -> (phases("exec").map(s => dur(s.start, s.end)).sum / 1e9, "s"),
        "exec.jobs" -> (jobs.size.toDouble, "count"),
        "exec.stages" -> (stages.size.toDouble, "count"),
        "exec.tasks" -> (tasks.size.toDouble, "count"),
        "exec.failed_tasks" -> (tasks.count(_.failed).toDouble, "count"),
        "exec.task_run_s" -> (taskRunMs / 1e3, "s"),
        "exec.task_cpu_s" -> (tasks.map(_.cpuNs).sum / 1e9, "s"),
        "exec.gc_s" -> (tasks.map(_.gcMs).sum / 1e3, "s"),
        "exec.shuffle_write_mb" -> (tasks.map(_.shuffleWrite).sum / MB, "MB"),
        "exec.shuffle_read_mb" -> (tasks.map(_.shuffleRead).sum / MB, "MB"),
        "exec.spill_mb" -> (tasks.map(_.spill).sum / MB, "MB"),
        "exec.driver_only_s" -> (driverOnly / 1e9, "s"),
        "exec.core_util" -> (if (wall > 0) taskRunMs * 1e6 / (wall * cores) else 0.0, "ratio"),
        "cache.persisted_frames" -> (stats.map(_.frames).sum.toDouble, "count"),
        "cache.peak_mb" -> (if (stats.isEmpty) 0.0 else stats.map(_.cachedMb).max, "MB"),
        "artifact.write_mb" -> (stats.map(_.artifactBytes).filter(_ > 0).sum / MB, "MB"),
        "artifact.files" -> (stats.map(_.artifactFiles).filter(_ > 0).sum.toDouble, "count"),
        "artifact.read_mb" -> (stats.filter(_.kind == "warm").map(_.artifactReadBytes).sum / MB, "MB"),
        "self.bench_s" -> (calls.map(selfOf).sum / 1e9, "s"),
        "self.queries_build_s" -> (phases("queries.build").map(selfOf).sum / 1e9, "s"),
        "self.queries_plan_s" -> (phases("queries.plan").map(selfOf).sum / 1e9, "s"),
        "self.exec_s" -> (phases("exec").map(selfOf).sum / 1e9, "s"),
        "self.spark_job_s" -> (jobs.map(j => dur(j.start, j.end) - covered(
          stagesByJob.getOrElse(j.id.toLong, Nil).map(s => (s.start, s.end)), j.start, j.end)).sum / 1e9, "s"),
        "self.spark_stage_s" -> (stages.map(s => dur(s.start, s.end)).sum / 1e9, "s"))
    }
    if (perPass.isEmpty) Nil
    else perPass.head.keys.toSeq.sorted.map { k =>
      k -> (median(perPass.map(_(k)._1)), perPass.head(k)._2)
    }
  }

  /** One JSON object per span: benchmark spans, then Spark jobs and stages. */
  def writeSpans(tr: Tracer, path: String): Unit = {
    implicit val formats: Formats = DefaultFormats
    def ref(prefix: String, id: Long): String = if (id < 0) null else s"$prefix$id"
    val lines = tr.spans.map(s => Map("id" -> s"b${s.id}", "parent" -> ref("b", s.parent),
        "name" -> s.name, "pass" -> s.pass, "start_ns" -> s.start, "end_ns" -> s.end)) ++
      tr.jobs.values.map(j => Map("id" -> s"j${j.id}", "parent" -> ref("b", j.parent),
        "name" -> "spark.job", "start_ns" -> j.start, "end_ns" -> j.end)) ++
      tr.stages.values.map(s => Map("id" -> s"s${s.id}", "parent" -> ref("j", s.parent),
        "name" -> "spark.stage", "start_ns" -> s.start, "end_ns" -> s.end))
    Files.writeString(Paths.get(path), lines.map(Serialization.write(_)).mkString("", "\n", "\n"))
  }
}
