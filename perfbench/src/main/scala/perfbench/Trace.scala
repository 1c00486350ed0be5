package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Percentiles and the other small statistics every workload reports. */
object Stats {
  /** Nearest-rank percentile of unsorted samples; NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest percentile that leaves at least ten samples beyond
    * it: the eleventh-largest sample (p50 with fewer than 21). */
  def tailLevel(n: Int): Double = if (n < 21) 50.0 else 100.0 * (n - 10) / n

  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailLevel(xs.size)
    (pct(xs, p), p)
  }
}

/** One span of the benchmark's own trace: a layer boundary around a
  * call into graft. Spans of one key or one trigger share `trace`. */
final case class Span(id: Long, trace: String, name: String, parent: Long,
    startMs: Long, endMs: Long, durNs: Long) {
  def json: String =
    s"""{"id":$id,"trace":${Json.str(trace)},"name":${Json.str(name)},""" +
      s""""parent":$parent,"start_ms":$startMs,"end_ms":$endMs,""" +
      s""""dur_ms":${Json.num(durNs / 1e6)}}"""
}

/** Spans kept in memory and written out as JSON lines when the run
  * ends. With tracing off nothing is recorded, but the timed section
  * still runs, so callers use the same code path either way. */
final class Tracer(var on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L

  /** Times `body`; returns its result and its duration in ms. */
  def span[T](trace: String, name: String, parent: Long = 0L)
      (body: Long => T): (T, Double) = {
    val id = synchronized { nextId += 1; nextId }
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body(id)
    val dur = System.nanoTime() - t0
    if (on) synchronized {
      spans += Span(id, trace, name, parent, startMs, System.currentTimeMillis(), dur)
    }
    (out, dur / 1e6)
  }

  /** Records a span whose times were measured elsewhere (a streaming
    * trigger's phases, from its progress report) and adopts the
    * parentless spans already recorded under the same trace id, such as
    * the sink call timed inside the trigger; returns its id. */
  def add(trace: String, name: String, parent: Long, startMs: Long, endMs: Long): Long =
    synchronized {
      nextId += 1
      val id = nextId
      spans.indices.foreach { i =>
        if (spans(i).trace == trace && spans(i).parent == 0L) spans(i) = spans(i).copy(parent = id)
      }
      spans += Span(id, trace, name, parent, startMs, endMs, (endMs - startMs) * 1000000L)
      id
    }

  /** Self time per span name: duration minus the union of its
    * children's intervals (children of one parent run sequentially). */
  def selfMs: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.durNs / 1e6 -
        kids.getOrElse(s.id, Nil).map(_.durNs / 1e6).sum).sum
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach(s => w.println(s.json)) finally w.close()
  }
}

/** Engine counts of one group of Spark jobs. */
final case class JobCounts(jobsBefore: Int, jobs: Int, stages: Int, tasks: Int,
    taskMs: Long, cpuMs: Double, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, execTaskMs: Long)

/** Engine counts per Spark job, attributed to the job group the
  * benchmark sets around each key or trigger. Registered only for
  * traced runs. */
final class JobCounter extends SparkListener {
  final class Job(val id: Int, val group: String, val submitMs: Long,
      val stages: Seq[Int])
  final class StageM(val tasks: Int, val runMs: Long, val cpuNs: Long,
      val shuffleWrite: Long, val shuffleRead: Long, val spill: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.HashMap.empty[Int, StageM]
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a streaming query's jobs carry its run id as the job group and
    // the micro-batch id as a property: group them per trigger
    val p = Option(e.properties)
    val g = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("") +
      p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).fold("")("/b" + _)
    jobs(e.jobId) = new Job(e.jobId, g, e.time, e.stageIds)
    lastEventMs = System.currentTimeMillis()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    lastEventMs = System.currentTimeMillis()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    stages(i.stageId) = new StageM(
      tasks = i.numTasks,
      runMs = m.map(_.executorRunTime).getOrElse(0L),
      cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
      shuffleWrite = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      shuffleRead = m.map(x => x.shuffleReadMetrics.remoteBytesRead +
        x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
      spill = m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
    lastEventMs = System.currentTimeMillis()
  }

  /** Waits until the listener bus has been quiet for a moment, so the
    * counts of the work just finished are complete. */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() - lastEventMs < 300 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Counts of the jobs of one group, split at `splitMs`: jobs
    * submitted before it (DataFrame build and planning) and after. */
  def counts(group: String, splitMs: Long = Long.MaxValue): JobCounts = synchronized {
    val js = jobs.values.filter(_.group == group).toSeq
    val stageIds = js.flatMap(_.stages).distinct.filter(stages.contains)
    val ss = stageIds.map(stages)
    val execStages = js.filter(_.submitMs >= splitMs).flatMap(_.stages).distinct
      .flatMap(stages.get)
    JobCounts(js.count(_.submitMs < splitMs), js.size, ss.size, ss.map(_.tasks).sum,
      ss.map(_.runMs).sum, ss.map(_.cpuNs).sum / 1e6,
      ss.map(_.shuffleWrite).sum, ss.map(_.shuffleRead).sum, ss.map(_.spill).sum,
      execStages.map(_.runMs).sum)
  }
}

/** Minimal JSON writing for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Host weather: CPU steal share and load average over a run. */
object Host {
  private def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (xs.sum, if (xs.length > 7) xs(7) else 0L)
    } finally f.close()
  }
  private var start: (Long, Long) = (0L, 0L)
  def begin(): Unit = start = try cpuTicks() catch { case _: Exception => (0L, 0L) }

  def stealPct(): Double = try {
    val (t, s) = cpuTicks()
    if (t == start._1) 0.0 else 100.0 * (s - start._2) / (t - start._1)
  } catch { case _: Exception => 0.0 }

  def loadAvg(): Double = try {
    val f = scala.io.Source.fromFile("/proc/loadavg")
    try f.getLines().next().split(" ")(0).toDouble finally f.close()
  } catch { case _: Exception => 0.0 }

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb(): Double = try {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally f.close()
  } catch { case _: Exception => 0.0 }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}
