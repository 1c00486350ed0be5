package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.conf.ConfigPipeline
import graft.mask.RuleEngine
import graft.streaming.CdcStream

/** One streaming trigger, from its progress report. */
final case class Trig(run: String, batchId: Long, startMs: Long, endMs: Long,
    rows: Long, d: Map[String, Long]) {
  def ms: Double = (endMs - startMs).toDouble
}

/** Collects every streaming progress report of the session. */
final class ProgressLog extends StreamingQueryListener {
  private val trigs = mutable.ArrayBuffer.empty[Trig]
  @volatile var failure: Option[String] = None

  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failure = Some(x.take(400)))
  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p: StreamingQueryProgress = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    synchronized {
      trigs += Trig(p.runId.toString, p.batchId, start,
        start + d.getOrElse("triggerExecution", 0L), p.numInputRows, d)
    }
  }
  /** Non-empty triggers, in order. */
  def nonEmpty: Seq[Trig] = synchronized(trigs.filter(_.rows > 0).toSeq)
}

/** `cdc_live` and `cdc_catchup`: the paper's envelope → exclude →
  * classify → mask → route path as Structured Streaming queries. */
object CdcWorkload {
  // cdc_live: open loop, one file every LiveIntervalMs
  val LiveIntervalMs = 80
  val LiveRowsPerFile = 200
  val LiveWarmFiles = 10
  val LiveSettleMs = 1000
  // cdc_catchup: closed loop over a backlog of orders changes
  val CatchupCreates = 14400
  val CatchupUpdates = 7200
  val CatchupDeletes = 2400
  val CatchupRowsPerFile = 1000
  val CatchupFilesPerTrigger = 2
  val KeyCol = "o_orderkey"
  val ValueCols: Seq[String] = Seq("o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")
  val TargetTable = "orders_masked"

  /** The workload's graft set-up besides the session: source
    * directories, and for the catch-up the keyed Derby target. */
  def setup(ctx: Ctx): Unit = {
    Seq("landing", "staging", "backlog").foreach(d => new java.io.File(ctx.path(d)).mkdirs())
    if (ctx.workload == "cdc_catchup") withConn(ctx) { c =>
      // the keyed target: an in-memory Derby database behind the DSN
      val st = c.createStatement()
      try st.execute(s"DROP TABLE $TargetTable")
      catch { case _: java.sql.SQLException => () }
      st.execute(s"""CREATE TABLE $TargetTable (o_orderkey BIGINT PRIMARY KEY,
        |o_custkey BIGINT, o_orderstatus VARCHAR(4), o_totalprice DOUBLE,
        |o_orderdate DATE, o_orderpriority VARCHAR(32))""".stripMargin)
      st.close()
    }
  }

  private def withConn[T](ctx: Ctx)(f: java.sql.Connection => T): T = {
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val c = java.sql.DriverManager.getConnection(ctx.cfg.dsnUrl.get)
    try f(c) finally c.close()
  }

  private def land(dir: String, staging: String, name: String, lines: Seq[String],
      mtime: Long = 0L): Unit = {
    val tmp = Paths.get(staging, name)
    Files.write(tmp, lines.asJava)
    if (mtime > 0) tmp.toFile.setLastModified(mtime)
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The delimited-file target read back: every output column as a
    * string, plus the `epoch` and `target_table` partitions. */
  private def readTarget(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("op", "ts_ms", "table") ++ Envelopes.liveSchema.fieldNames
    spark.read.schema(StructType(cols.map(StructField(_, StringType))))
      .option("sep", "\t").csv(dir)
  }

  /** Reconstructs the spans of one streaming run from its progress
    * reports: run → trigger → phase, in the order a trigger runs its
    * phases. Trigger spans share the trace id `<run>/b<batch>` with the
    * sink call timed inside them. */
  private def traceTriggers(ctx: Ctx, run: String, ts: Seq[Trig]): Unit =
    if (ts.nonEmpty) {
      val root = ctx.tracer.add(run, "run", 0L, ts.head.startMs, ts.last.endMs)
      ts.foreach { t =>
        val trace = s"$run/b${t.batchId}"
        val id = ctx.tracer.add(trace, "trigger", root, t.startMs, t.endMs)
        var at = t.startMs
        Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
            "commitOffsets").foreach { k =>
          t.d.get(k).foreach { ms =>
            ctx.tracer.add(s"$trace/$k", s"stream.$k", id, at, at + ms)
            at += ms
          }
        }
      }
    }

  private def streamLayers(ctx: Ctx, ts: Seq[Trig], gcMs: Double): Unit = {
    def med(k: String) = Stats.median(ts.map(_.d.getOrElse(k, 0L).toDouble))
    ctx.layer("stream.latest_offset_ms", med("latestOffset"), "ms")
    ctx.layer("stream.get_batch_ms", med("getBatch"), "ms")
    ctx.layer("stream.query_planning_ms", med("queryPlanning"), "ms")
    ctx.layer("stream.add_batch_ms", med("addBatch"), "ms")
    ctx.layer("stream.wal_commit_ms", med("walCommit"), "ms")
    ctx.layer("stream.commit_offsets_ms", med("commitOffsets"), "ms")
    ctx.layer("stream.triggers", ts.size, "count")
    ctx.layer("stream.rows_per_trigger", Stats.median(ts.map(_.rows.toDouble)), "count")
    ctx.layer("plan_ms", med("queryPlanning"), "ms")
    ctx.layer("exec_ms", med("addBatch"), "ms")
    val counts = ts.map(t => ctx.counter.counts(s"${t.run}/b${t.batchId}"))
    ctx.engineLayers(counts, ts.map(_.d.getOrElse("addBatch", 0L).toDouble).sum,
      ts.size.max(1).toDouble, gcMs / ts.size.max(1))
  }

  /** Static decomposition over the run's envelopes: one
    * `toRdd.count()` per prefix of the pipeline, medians of three. */
  private def decompose(ctx: Ctx, dir: String, schema: StructType): Unit = {
    val spark = ctx.spark
    val src = spark.read.text(dir).cache()
    src.count()
    def count(df: => DataFrame): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); df.queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e6
    })
    val parse = count(CdcStream.changes(src, schema))
    val mask = count(RuleEngine.maskTable(CdcStream.changes(src, schema), ctx.lib))
    val route = count(ConfigPipeline.assemble(src, schema, ctx.cfg, ctx.lib))
    val out = ctx.path("decompose_out")
    val write = Stats.median((1 to 3).map { i =>
      val t0 = System.nanoTime()
      ConfigPipeline.writeBatch(ConfigPipeline.assemble(src, schema, ctx.cfg, ctx.lib),
        ctx.cfg.copy(dataTarget = Some(s"$out/$i")))
      (System.nanoTime() - t0) / 1e6
    })
    src.unpersist()
    ctx.rmTree(out)
    ctx.layer("cdc.parse_ms", parse, "ms")
    ctx.layer("mask.apply_ms", mask - parse, "ms")
    ctx.layer("conf.route_ms", route - mask, "ms")
    ctx.layer("conf.write_ms", write - route, "ms")
  }

  // ------------------------------------------------------------ cdc_live

  def live(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val landing = ctx.path("landing"); val staging = ctx.path("staging")
    val gen = new Envelopes.Gen(ctx.seed)
    val log = new ProgressLog
    spark.streams.addListener(log)
    val masked = ConfigPipeline.assemble(spark.readStream.text(landing),
      Envelopes.liveSchema, ctx.cfg, ctx.lib)
    val q = ConfigPipeline.sinkStream(masked, ctx.cfg).start()

    final case class Landed(due: Long, rows: Int, excluded: Int, lateMs: Long)
    val landed = mutable.ArrayBuffer.empty[Landed]
    // raw values of the never-equal columns per customer change
    val sent = mutable.HashMap.empty[(Long, Long), Seq[String]]
    var fileNo = 0
    var genNs = 0L
    def landFile(due: Long): Unit = {
      val t0 = System.nanoTime()
      val busy = mutable.Set.empty[(String, Long)]
      val changes = (1 to LiveRowsPerFile).map(_ => gen.liveChange(busy))
      land(landing, staging, f"f-$fileNo%06d.json", changes.map(Envelopes.toJson(_, due)))
      fileNo += 1
      changes.filter(_.table == "customer").foreach { c =>
        val img = (if (c.op == "d") c.before else c.after).get
        sent((c.key, due)) = Envelopes.neverEqualColumns.map(img(_).toString)
      }
      landed += Landed(due, changes.size, changes.count(_.table == "customer_masked"),
        System.currentTimeMillis() - due)
      genNs += System.nanoTime() - t0
    }
    // warm-up, outside the window: the first trigger runs cold and is
    // cold_s; a second one lets the stream settle
    (1 to 2).foreach { _ =>
      val now = System.currentTimeMillis()
      // distinct due times keep each change's (table, key, ts_ms) unique
      (1 to LiveWarmFiles).foreach(j => landFile(now + j))
      q.processAllAvailable()
    }
    val warmFiles = landed.size

    // the open loop: file i is due at t0 + i * interval, whether or not
    // the stream has kept up; the first LiveSettleMs are not sampled
    val t0 = System.currentTimeMillis() + LiveIntervalMs
    val winStart = t0 + LiveSettleMs
    val end = winStart + ctx.seconds * 1000L
    val genThread = new Thread(() => {
      var i = 0
      var due = t0
      while (due < end) {
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        landFile(due)
        i += 1
        due = t0 + i.toLong * LiveIntervalMs
      }
    }, "perfbench-generator")
    genThread.start()
    // a traced run traces the second and fourth quarters of the window;
    // the first and third, interleaved so that JIT warm-up favours
    // neither side, are its untraced reference for the tracing overhead
    val quarter = ctx.seconds * 250L
    def quarterOf(ms: Long) = (ms - winStart) / quarter
    var gcTraced = 0L
    if (ctx.trace) (1 to 3).foreach { k =>
      Thread.sleep(math.max(0L, winStart + k * quarter - System.currentTimeMillis()))
      val on = k % 2 == 1
      gcTraced += (if (on) -Host.gcMs() else Host.gcMs())
      ctx.setTracing(on)
    }
    genThread.join()
    if (ctx.trace) gcTraced += Host.gcMs()
    try q.processAllAvailable()
    catch { case e: Exception => ctx.fail(s"live query stopped: $e") }
    q.stop()
    log.failure.foreach(f => ctx.fail(s"live query failed: $f"))
    ctx.setTracing(false)

    // the target, read back; the checks run as Spark jobs, so the
    // harness holds no copy of the output
    val out = readTarget(spark, ctx.cfg.dataTarget.get).cache()
    val total = landed.map(_.rows).sum
    val expectedRows = total - landed.map(_.excluded).sum
    ctx.attempted += total
    val trigs = log.nonEmpty
    val endOf = trigs.map(t => t.batchId -> t.endMs).toMap
    val epochOfDue = out.select(col("ts_ms").cast("long"), col("epoch").cast("long"))
      .distinct().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inWindow = (ts: Long) => ts >= winStart && ts < end
    val windowMs = ctx.seconds * 1000.0
    val sampled = landed.drop(warmFiles).filter(l => inWindow(l.due))
    val doneAt = sampled.map(l => epochOfDue.get(l.due).flatMap(endOf.get))
    // a lag sample is a trigger: from the due time of the oldest file it
    // wrote to its end. Files written by one trigger share that end, so
    // they are not independent samples. A file never written counts as
    // the whole window.
    val lag = sampled.groupBy(l => epochOfDue.get(l.due)).toSeq.flatMap {
      case (Some(epoch), ls) if endOf.contains(epoch) =>
        Seq((endOf(epoch) - ls.map(_.due).min).toDouble)
      case (_, ls) => ls.map(_ => windowMs)
    }
    val delivered = sampled.zip(doneAt).filter(_._2.exists(_ <= end))
      .map(l => l._1.rows - l._1.excluded).sum
    ctx.metric("cold_s", trigs.headOption.map(_.ms / 1000.0).getOrElse(windowMs / 1000), "s")
    ctx.latency("op_ms", trigs.filter(t => t.startMs >= winStart && t.startMs < end).map(_.ms))
    ctx.latency("lag_ms", lag)
    ctx.metric("items_per_s", delivered / ctx.seconds.toDouble, "1/s")
    ctx.layer("gen_ms", genNs / 1e6, "ms")
    ctx.layer("gen.late_ms_max", landed.drop(warmFiles).map(_.lateMs).maxOption
      .getOrElse(0L).toDouble, "ms")
    ctx.info("files", landed.size.toString)
    ctx.info("mix", Json.str(s"c=${gen.pCreate} d=${gen.pDelete} excluded=${gen.excludedShare}"))

    // correctness: the streamed target equals a batch assemble of the
    // same envelopes, with no gaps, no duplicates, no excluded table,
    // and no never-equal column carrying its source value
    val batchDir = ctx.path("target_batch")
    ConfigPipeline.writeBatch(ConfigPipeline.assemble(spark.read.text(landing),
      Envelopes.liveSchema, ctx.cfg, ctx.lib), ctx.cfg.copy(dataTarget = Some(batchDir)))
    val streamed = out.drop("epoch")
    val batch = readTarget(spark, batchDir).select(streamed.columns.map(col).toSeq: _*)
    val (rows, streamedHash) = ContentHash.of(streamed)
    val diff = if ((rows, streamedHash) == ContentHash.of(batch)) 0L
      else streamed.exceptAll(batch).count() + batch.exceptAll(streamed).count()
    val dups = out.groupBy("table", "ts_ms", "c_custkey", "o_orderkey").count()
      .filter(col("count") > 1).count()
    val excluded = out.filter(col("table") === "customer_masked").count()
    val raw = spark.createDataFrame(
      sent.toSeq.map { case ((k, ts), vs) => Row.fromSeq(Seq(k.toString, ts.toString) ++ vs) }.asJava,
      StructType((Seq("r_key", "r_ts") ++ Envelopes.neverEqualColumns.map("r_" + _))
        .map(StructField(_, StringType))))
    val leaks = out.filter(col("table") === "customer")
      .join(raw, col("c_custkey") === col("r_key") && col("ts_ms") === col("r_ts"), "left")
      .filter(col("r_key").isNull ||
        Envelopes.neverEqualColumns.map(c => col(c) === col(s"r_$c")).reduce(_ || _))
      .count()
    out.unpersist()
    if (diff > 0) ctx.fail(s"streamed target differs from batch assemble in $diff rows")
    if (rows != expectedRows) ctx.fail(s"target holds $rows rows, generator sent $expectedRows")
    if (dups > 0) ctx.fail(s"$dups changes written more than once")
    if (excluded > 0) ctx.fail(s"$excluded rows of the excluded table reached the target")
    if (leaks > 0) ctx.fail(s"$leaks rows carry an unmasked source value")
    ctx.failed += math.min(total.toLong, diff + math.abs(rows - expectedRows) + dups + excluded + leaks)
    if (ctx.trace) {
      val measured = trigs.filter(t => t.startMs >= winStart && t.startMs < end)
      val traced = measured.filter(t =>
        quarterOf(t.startMs) % 2 == 1 && quarterOf(t.endMs) == quarterOf(t.startMs))
      val plain = measured.filter(t => quarterOf(t.startMs) % 2 == 0)
      traceTriggers(ctx, "live", traced)
      ctx.counter.settle()
      streamLayers(ctx, traced, gcTraced.toDouble)
      ctx.overhead(Stats.median(traced.map(_.ms)), Stats.median(plain.map(_.ms)))
      decompose(ctx, landing, Envelopes.liveSchema)
    }
    spark.streams.removeListener(log)
  }

  // --------------------------------------------------------- cdc_catchup

  def catchup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val backlog = ctx.path("backlog"); val staging = ctx.path("staging")
    val gen = new Envelopes.Gen(ctx.seed)
    val genT0 = System.nanoTime()
    val changes = {
      val cs = mutable.ArrayBuffer.empty[Envelopes.Change]
      def batch(n: Int, op: String): Unit =
        (1 to n).foreach(_ => cs += gen.change("orders", op, mutable.Set.empty))
      batch(CatchupCreates, "c"); batch(CatchupUpdates, "u"); batch(CatchupDeletes, "d")
      cs.toSeq
    }
    val base = 1700000000000L
    val mtime0 = System.currentTimeMillis() - 3600000L
    changes.zipWithIndex.grouped(CatchupRowsPerFile).zipWithIndex.foreach { case (cs, f) =>
      land(backlog, staging, f"b-$f%04d.json",
        cs.map { case (c, i) => Envelopes.toJson(c, base + i) }, mtime0 + f * 1000L)
    }
    ctx.layer("gen_ms", (System.nanoTime() - genT0) / 1e6, "ms")
    val expected = gen.state("orders")
    val log = new ProgressLog
    spark.streams.addListener(log)

    final case class Drain(n: Int, startMs: Long, wallMs: Double, ok: Boolean,
        runId: String, traced: Boolean, gcMs: Long)
    def drain(n: Int, traced: Boolean): Drain = {
      ctx.setTracing(traced)
      withConn(ctx)(_.createStatement().execute(s"DELETE FROM $TargetTable"))
      val ck = ctx.path(s"ck-catchup-$n")
      val startMs = System.currentTimeMillis()
      val gc0 = Host.gcMs()
      val t0 = System.nanoTime()
      var runId = ""
      val ok = try {
        val masked = ConfigPipeline.assemble(
          ctx.spark.readStream.option("maxFilesPerTrigger", CatchupFilesPerTrigger.toLong)
            .text(backlog), Envelopes.ordersSchema, ctx.cfg, ctx.lib)
        val q = masked.writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ck)
          .foreachBatch { (b: DataFrame, id: Long) =>
            ctx.tracer.span(s"drain-$n/b$id", "upsert.apply") { _ =>
              ConfigPipeline.applyJdbc(b, ctx.cfg, KeyCol, "ts_ms", ValueCols)
            }
            ()
          }.start()
        runId = q.runId.toString
        q.awaitTermination()
        true
      } catch { case e: Exception => ctx.fail(s"drain $n stopped: $e"); false }
      val wall = (System.nanoTime() - t0) / 1e6
      ctx.setTracing(false)
      ctx.rmTree(ck)
      ctx.attempted += changes.size
      val bad = if (ok) verify(ctx, expected) else changes.size.toLong
      if (bad > 0 && ok) ctx.fail(s"drain $n: $bad keys differ from the latest change")
      ctx.failed += bad
      Drain(n, startMs, wall, ok && bad == 0, runId, traced, Host.gcMs() - gc0)
    }

    // drains of the whole backlog, at least two, until the window is
    // used; a traced run makes four: cold, then traced, untraced and
    // traced again, the untraced one its reference for the overhead
    val drains = mutable.ArrayBuffer.empty[Drain]
    val tStart = System.nanoTime()
    while (drains.size < 2 || (if (ctx.trace) drains.size < 4
        else (System.nanoTime() - tStart) / 1e9 < ctx.seconds))
      drains += drain(drains.size + 1, ctx.trace && drains.size % 2 == 1)
    val windowMs = ctx.seconds * 1000.0
    // a failed drain is never a fast success: at least the whole window
    def wall(d: Drain) = if (d.ok) d.wallMs else math.max(windowMs, d.wallMs)
    val trigs = log.nonEmpty
    def trigsOf(d: Drain) = trigs.filter(_.run == d.runId)
    // the run's first trigger is cold; every later one is a sample
    val first = trigsOf(drains.head).headOption
    val warm = drains.flatMap(trigsOf).drop(1).toSeq
    val lag = drains.flatMap { d =>
      trigsOf(d).flatMap { t =>
        val files = math.max(1L, t.rows / CatchupRowsPerFile).toInt
        val ms = (t.endMs - d.startMs).toDouble
        Seq.fill(files)(if (d.ok) ms else math.max(windowMs, ms))
      }
    }.toSeq
    ctx.metric("cold_s", first.map(_.ms / 1000.0).getOrElse(windowMs / 1000), "s")
    ctx.latency("op_ms", warm.map(_.ms))
    ctx.latency("lag_ms", lag)
    val warmWallMs = drains.map(wall).sum - first.map(_.ms).getOrElse(0.0)
    ctx.metric("items_per_s", warm.map(_.rows).sum / (warmWallMs / 1000.0), "1/s")
    ctx.info("drains", drains.size.toString)

    if (ctx.trace) {
      val traced = drains.filter(_.traced).toSeq
      traced.foreach(d => traceTriggers(ctx, s"drain-${d.n}", trigsOf(d)))
      val tracedTrigs = traced.flatMap(trigsOf)
      ctx.counter.settle()
      streamLayers(ctx, tracedTrigs, traced.map(_.gcMs).sum.toDouble)
      val sinks = ctx.tracer.spans.filter(_.name == "upsert.apply").map(_.durNs / 1e6)
      ctx.layer("upsert.apply_ms", Stats.median(sinks.toSeq), "ms")
      ctx.layer("upsert.jobs", Stats.median(tracedTrigs.map(t =>
        ctx.counter.counts(s"${t.run}/b${t.batchId}").jobs.toDouble)), "count")
      ctx.overhead(Stats.median(traced.map(wall)), wall(drains(2)))
      decompose(ctx, backlog, Envelopes.ordersSchema)
      spark.streams.removeListener(log)
      // the single-threaded baseline: one drain at local[1]
      ctx.restart(cores = 1)
      val one = drain(drains.size + 1, traced = false)
      ctx.layer("upsert.local1_rows_per_s", changes.size / (wall(one) / 1000.0), "1/s")
    } else spark.streams.removeListener(log)
  }

  /** Keys of the Derby target that differ from the latest non-deleted
    * change per key: kept columns exactly, blurred price within its
    * ±5 magnitude, shifted date within ±30 days. */
  private def verify(ctx: Ctx, expected: Map[Long, Map[String, Any]]): Long =
    withConn(ctx) { c =>
      val rs = c.createStatement().executeQuery(
        s"SELECT ${(KeyCol +: ValueCols).mkString(", ")} FROM $TargetTable")
      val got = mutable.HashMap.empty[Long, (Long, String, Double, java.time.LocalDate, String)]
      while (rs.next()) got(rs.getLong(1)) = (rs.getLong(2), rs.getString(3), rs.getDouble(4),
        Option(rs.getDate(5)).map(_.toLocalDate).orNull, rs.getString(6))
      val wrong = expected.count { case (k, r) =>
        got.get(k).forall { case (cust, status, price, date, prio) =>
          val rawDate = java.time.LocalDate.parse(r("o_orderdate").toString.take(10))
          !(cust == r("o_custkey") && status == r("o_orderstatus") &&
            prio == r("o_orderpriority") &&
            math.abs(price - r("o_totalprice").asInstanceOf[Double]) <= 5.0 + 1e-6 &&
            date != null && math.abs(date.toEpochDay - rawDate.toEpochDay) <= 30)
        }
      }
      wrong + got.keys.count(k => !expected.contains(k))
    }
}
