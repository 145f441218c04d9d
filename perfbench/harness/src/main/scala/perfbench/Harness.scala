package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.{CacheScope, Engine, SparkEntry}

/** The benchmark's JVM side, launched by `perfbench/run.py`.
  *
  * Arguments are `key=value` pairs:
  *  - `mode`: `plain` (each job once per pass) or `coldwarm` (per job:
  *    empty the artifact cache, untimed, then one cold call and two warm
  *    calls, so that the slowest third of the calls are the cold ones);
  *  - `jobs`: comma-separated registry names or `qNN` prefixes;
  *  - `data`: directory of the input tables;
  *  - `passes`, `seconds`, `seed`, `trace` (0/1), `job_timeout` (seconds);
  *  - `out`: the run's work directory; results go to `out/result.json`,
  *    checked job outputs to `out/results/<job>[@cold]`;
  *  - `launch_ms`: wall-clock ms at which the launcher started this JVM.
  *
  * Set-up is session start plus one untimed pass whose outputs are written
  * as parquet for the oracle check. Then closed-loop passes, one client,
  * with the job order shuffled per pass from `seed`: `passes` of them, or
  * fewer if `seconds` have elapsed at the end of a pass (at least one).
  * Every timed job is forced with a `noop` write. A traced run alternates
  * untraced and traced passes and then runs the probes; it reads files
  * through [[ArtifactReads]], which records stored-artifact reads.
  */
object Harness {
  type Job = (SparkSession, String) => DataFrame

  /** One timed call: `s` is its wall time, absent if it failed. */
  final case class Sample(job: String, pass: Int, kind: String,
      s: Option[Double], error: Option[String])

  def main(args: Array[String]): Unit = {
    val code =
      try { run(args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.err.flush()
    // Spark's shutdown hooks take seconds and add nothing: every output is
    // on disk already
    Runtime.getRuntime.halt(code)
  }

  private def run(opt: Map[String, String]): Unit = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val out = opt("out")
    val dataDir = opt("data")
    val coldWarm = opt("mode") == "coldwarm"
    val seconds = opt("seconds").toDouble
    val passes = opt("passes").toInt
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val jobIds = opt("jobs").split(',').toSeq.filter(_.nonEmpty)
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

    val t0 = System.nanoTime()
    val builder = Engine
      .configure(SparkSession.builder().master(s"local[$cores]").appName("perfbench"), cores)
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[ArtifactReads].getName)
    val spark = builder.getOrCreate()
    graft.functions.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val registry = SparkEntry.queries
    val jobs: Seq[(String, Option[Job])] = jobIds.map { id =>
      registry.get(id).map(id -> Some(_)).getOrElse(
        registry.collectFirst { case (k, f) if k.startsWith(id + "_") => k -> Some(f) }
          .getOrElse(id -> None))
    }

    val tracer = new Tracer
    val bench = new Bench(spark, tracer, opt.getOrElse("job_timeout", "60").toDouble)
    val noop: (String, String) => DataFrame => Unit =
      (_, _) => df => df.write.format("noop").mode("overwrite").save()
    val check: (String, String) => DataFrame => Unit = (job, kind) => df =>
      df.write.mode("overwrite").parquet(
        s"$out/results/$job${if (kind == "cold") "@cold" else ""}")

    def pass(p: Int, dir: String, order: Seq[(String, Option[Job])],
        sink: (String, String) => DataFrame => Unit): Unit =
      order.foreach { case (name, fn) =>
        if (coldWarm) {
          bench.wipeArtifacts()
          bench.call(name, fn, dir, "cold", p, sink(name, "cold"))
          (1 to 2).foreach(_ => bench.call(name, fn, dir, "warm", p, sink(name, "warm")))
        } else bench.call(name, fn, dir, "run", p, sink(name, "run"))
      }

    val tWarm = System.nanoTime()
    pass(-1, dataDir, jobs, check)
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = (System.currentTimeMillis() - opt("launch_ms").toLong) / 1e3

    val rnd = new scala.util.Random(seed)
    val tracedPasses = mutable.Set[Int]()
    val tMeasure = System.nanoTime()
    var p = 0
    while (p < passes && (p == 0 || (System.nanoTime() - tMeasure) / 1e9 < seconds)) {
      val on = traced && p % 2 == 1
      if (on) {
        tracedPasses += p
        spark.sparkContext.addSparkListener(tracer)
      }
      bench.tracing = on
      pass(p, dataDir, rnd.shuffle(jobs), noop)
      if (on) {
        org.apache.spark.graftaccess.ListenerBusAccess.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
      }
      p += 1
    }
    val loadEnd = os.getSystemLoadAverage

    val layers = mutable.LinkedHashMap[String, (Double, String)]()
    if (traced) {
      layers ++= Layers.summarize(tracer, bench, tracedPasses.toSet, cores)
      layers("engine.session_s") = (sessionS, "s")
      layers("engine.warm_s") = (warmS, "s")
      spark.sparkContext.addSparkListener(tracer)
      bench.tracing = true
      val probes = bench.onJobThread(150) {
        val resolve = Probes.resolve(spark, dataDir)
        val k = Probes.kernels(spark, dataDir, rep = 4, bench.probeSpan)
        val o = Probes.operators(spark, dataDir, s"$out/probe-artifacts", bench.probeSpan)
        ("sources.resolve_s" -> (resolve, "s")) +:
          (k.map { case (n, v) => s"functions.${n}_ns_per_row" -> (v, "ns/row") } ++
            o.map { case (n, v) => s"operators.${n}_s" -> (v, "s") })
      }
      layers ++= probes
      org.apache.spark.graftaccess.ListenerBusAccess.drain(spark.sparkContext)
      Layers.writeSpans(tracer, s"$out/spans.jsonl")
    }

    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
    implicit val formats: Formats = DefaultFormats
    val result = Map(
      "setup_s" -> setupS, "session_s" -> sessionS, "warm_s" -> warmS,
      "peak_rss_mb" -> hwm, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "load_start" -> loadStart, "load_end" -> loadEnd,
      "traced_passes" -> tracedPasses.toSeq.sorted,
      "jobs" -> jobs.map(_._1),
      "oracle_sql" -> jobs.flatMap { case (n, _) => SparkEntry.oracleSql.get(n).map(n -> _) }.toMap,
      "samples" -> bench.samples.toSeq,
      "layers" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    Files.writeString(Paths.get(s"$out/result.json"), Serialization.write(result))
  }
}

/** Runs job calls on one dedicated thread with a timeout, and keeps the
  * per-call samples and the counters the per-layer summary needs.
  */
final class Bench(spark: SparkSession, tracer: Tracer, timeoutS: Double) {
  import Harness._

  val samples = mutable.ArrayBuffer[Sample]()
  /** Traced calls: (job span id, kind, frames drained, cached MB before
    * the drain, artifact bytes and files the call added, bytes of the
    * artifact files it read).
    */
  final case class CallStats(span: Long, pass: Int, kind: String, frames: Int,
      cachedMb: Double, artifactBytes: Long, artifactFiles: Long, artifactReadBytes: Long)
  val callStats = mutable.ArrayBuffer[CallStats]()
  @volatile var tracing = false

  private val pool = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-job"); t.setDaemon(true); t
  }
  private var group = 0

  def onJobThread[A](limitS: Double)(body: => A): A = {
    group += 1
    val g = s"perfbench-$group"
    val f = pool.submit(() => {
      spark.sparkContext.setJobGroup(g, g, interruptOnCancel = true)
      try body finally spark.sparkContext.clearJobGroup()
    })
    try f.get((limitS * 1e9).toLong, TimeUnit.NANOSECONDS)
    catch {
      case e: TimeoutException =>
        spark.sparkContext.cancelJobGroup(g)
        f.cancel(true)
        throw e
      case e: ExecutionException => throw e.getCause
    }
  }

  def probeSpan(name: String, body: => Unit): Unit =
    tracer.span(name, -1, spark.sparkContext)(body)

  private def phase[A](name: String, pass: Int)(body: => A): A =
    if (tracing) tracer.span(name, pass, spark.sparkContext)(body) else body

  /** Time one call: registry build, plan, forced by `sink`. A call that
    * throws or times out records its error and no time. Cleanup after it
    * (release of persisted frames, cache clear) is untimed.
    */
  def call(name: String, fn: Option[Job], dir: String, kind: String, pass: Int,
      sink: DataFrame => Unit): Unit = {
    val before = if (tracing) artifactStats() else (0L, 0L)
    ArtifactReads.reset()
    var spanId = -1L
    val result: Either[String, Double] =
      try Right(onJobThread(timeoutS) {
        val f = fn.getOrElse(throw new NoSuchElementException(s"no registry job named $name"))
        val t0 = System.nanoTime()
        phase("call", pass) {
          spanId = tracer.current
          val df = phase("queries.build", pass)(f(spark, dir))
          phase("queries.plan", pass)(df.queryExecution.executedPlan)
          phase("exec", pass)(sink(df))
        }
        (System.nanoTime() - t0) / 1e9
      })
      catch {
        case _: TimeoutException => Left(s"timeout after ${timeoutS}s")
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
    val cachedMb = if (tracing) spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0 else 0.0
    val frames = CacheScope.drain()
    spark.catalog.clearCache()
    if (tracing) {
      val after = artifactStats()
      callStats += CallStats(spanId, pass, kind, frames, cachedMb,
        after._1 - before._1, after._2 - before._2, ArtifactReads.bytes())
    }
    samples += Sample(name, pass, kind, result.toOption, result.left.toOption)
  }

  private def artifacts: Seq[File] =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_"))

  /** (bytes, files) under the program's stored-artifact cache. */
  def artifactStats(): (Long, Long) = {
    def walk(f: File): (Long, Long) =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk)
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      else (f.length, 1L)
    artifacts.map(walk).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  /** Empty the program's stored-artifact cache (java.io.tmpdir/graft_*). */
  def wipeArtifacts(): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(del)
      f.delete()
    }
    artifacts.foreach(del)
  }
}
