package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.classify.DataClassLibrary
import graft.conf.{ConfigPipeline, GraftConfig}

/** State of one benchmark run, shared by the workloads. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
    val trace: Boolean, val workDir: String, val dataDir: String,
    val expectedPath: String, val recordOnly: Boolean) {
  var spark: SparkSession = _
  var cfg: GraftConfig = _
  var lib: DataClassLibrary = _
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val infos = mutable.LinkedHashMap.empty[String, String]
  val tracer = new Tracer(false)
  val counter = new JobCounter
  private var listening = false

  def path(name: String): String = s"$workDir/$name"

  /** Records why an operation failed: a thrown key, a stopped query or
    * a wrong result. Callers count the failed operations into `failed`. */
  def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[perfbench] FAIL $msg")
  }

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
  def info(name: String, json: String): Unit = infos(name) = json

  /** `<name>_p50` and `<name>_tail`, recording the tail's percentile. */
  def latency(name: String, xs: Seq[Double]): Unit = {
    val (t, p) = Stats.tail(xs)
    metric(s"${name}_p50", Stats.median(xs), "ms")
    metric(s"${name}_tail", t, "ms")
    layer(s"$name.tail_pct", p, "%")
    layer(s"$name.samples", xs.size, "count")
  }

  /** Spark execution and shuffle layers from listener counts, divided
    * by `per` (passes or triggers). */
  def engineLayers(cs: Seq[JobCounts], execMs: Double, per: Double,
      gcMs: Double): Unit = {
    val cores = spark.sparkContext.defaultParallelism
    layer("jobs", cs.map(_.jobs).sum / per, "count")
    layer("stages", cs.map(_.stages).sum / per, "count")
    layer("tasks", cs.map(_.tasks).sum / per, "count")
    layer("task_ms", cs.map(_.taskMs).sum / per, "ms")
    layer("task_cpu_ms", cs.map(_.cpuMs).sum / per, "ms")
    layer("idle_core_ms", (cores * execMs - cs.map(_.execTaskMs).sum) / per, "ms")
    layer("gc_ms", gcMs, "ms")
    layer("shuffle_write_bytes", cs.map(_.shuffleWrite).sum / per, "bytes")
    layer("shuffle_read_bytes", cs.map(_.shuffleRead).sum / per, "bytes")
    layer("spill_bytes", cs.map(_.spill).sum / per, "bytes")
  }

  /** Tracing overhead: traced minus untraced time of the same unit. */
  def overhead(tracedMs: Double, plainMs: Double): Unit = {
    layer("trace.overhead_ms", tracedMs - plainMs, "ms")
    layer("trace.overhead_pct", 100.0 * (tracedMs - plainMs) / plainMs, "%")
  }

  /** Traced sections register the job listener and record spans. */
  def setTracing(on: Boolean): Unit = if (trace) {
    tracer.on = on
    if (on && !listening) spark.sparkContext.addSparkListener(counter)
    if (!on && listening) spark.sparkContext.removeSparkListener(counter)
    listening = on
  }

  def newSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", path("spark-local"))
      .config("spark.sql.warehouse.dir", path("spark-warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Replaces the session with a fresh one on `cores` cores. */
  def restart(cores: Int): Unit = {
    setTracing(false)
    spark.stop()
    spark = newSession(cores)
  }

  def rmTree(p: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete()
    }
    rm(new java.io.File(p))
  }
}

/** Benchmark main. Usage:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  * <data dir> <expected.json> [record]`, run with the work dir as the
  * current directory (it holds config.properties and the XML libraries).
  * Writes `result.json` and, when traced, `trace.jsonl` into the work
  * dir; run.py turns them into the benchmark's output line. */
object Main {
  val Workloads = Seq("cdc_live", "cdc_catchup", "batch_registry")
  val SetupRepeats = 7

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, data, expected) = args.take(7)
    require(Workloads.contains(workload), s"unknown workload $workload")
    val ctx = new Ctx(workload, seed.toLong, seconds.toInt, trace == "1", work, data,
      expected, args.lift(7).contains("record"))
    Host.begin()

    // set-up: the session plus the graft set-up the workload needs before
    // its first timed operation, repeated; setup_s is the median
    val setups = (1 to SetupRepeats).map { i =>
      if (ctx.spark != null) ctx.spark.stop()
      System.gc()
      val t0 = System.nanoTime()
      ctx.spark = ctx.newSession(4)
      val t1 = System.nanoTime()
      ctx.cfg = GraftConfig.load("config.properties")
      ctx.lib = ConfigPipeline.library(ctx.cfg)
      val t2 = System.nanoTime()
      if (workload.startsWith("cdc_")) CdcWorkload.setup(ctx)
      val t3 = System.nanoTime()
      ((t3 - t0) / 1e9, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
    }
    ctx.metric("setup_s", Stats.median(setups.map(_._1)), "s")
    ctx.layer("session_ms", Stats.median(setups.map(_._2)), "ms")
    ctx.layer("conf.library_ms", Stats.median(setups.map(_._3)), "ms")
    ctx.info("setup_s_each", setups.map(s => Json.num(s._1)).mkString("[", ",", "]"))

    try workload match {
      case "cdc_live" => CdcWorkload.live(ctx)
      case "cdc_catchup" => CdcWorkload.catchup(ctx)
      case _ => BatchWorkload.run(ctx)
    } catch {
      case e: Throwable =>
        ctx.fail(s"workload aborted: $e")
        ctx.failed = math.max(ctx.failed, 1L)
        ctx.attempted = math.max(ctx.attempted, ctx.failed)
    }
    ctx.layer("peak_rss_mb", Host.peakRssMb(), "MB")
    val attempted = math.max(1L, ctx.attempted)
    ctx.metric("success_rate", 1.0 - math.min(ctx.failed, attempted).toDouble / attempted, "ratio")
    ctx.layer("host.steal_pct", Host.stealPct(), "%")
    ctx.layer("host.loadavg", Host.loadAvg(), "count")
    if (ctx.trace) {
      ctx.tracer.write(ctx.path("trace.jsonl"))
      ctx.tracer.selfMs.toSeq.sortBy(_._1).foreach { case (n, ms) =>
        ctx.infos(s"self_ms.$n") = Json.num(ms)
      }
    }
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) = Json.obj(m.toSeq.map {
      case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val result = Json.obj(Seq(
      "correct" -> (ctx.failures.isEmpty && ctx.failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> math.min(ctx.failed, attempted).toString,
      "metrics" -> obj(ctx.metrics),
      "layers" -> obj(ctx.layers),
      "info" -> Json.obj(ctx.infos.toSeq),
      "failures" -> ctx.failures.take(20).map(Json.str).mkString("[", ",", "]")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ctx.path("result.json")), result)
    ctx.spark.stop()
  }
}
