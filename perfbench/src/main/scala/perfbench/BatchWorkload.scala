package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive content hash of a query result, computed on the
  * executors over `queryExecution.toRdd` — the plan as built, in the
  * same job that produces the rows. Doubles hash at float precision so
  * a last-bit change in summation order does not read as a mismatch. */
object ContentHash {
  private val Seed = 0x5bd1e995L

  private def mix(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  private def dbl(d: Double): Long =
    if (d.isNaN) 0x7fc00000L
    else if (d == 0.0) 0L
    else java.lang.Float.floatToIntBits(d.toFloat).toLong

  private def bytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, Seed)

  def value(v: Any, dt: DataType): Long =
    if (v == null) 0x9e3779b97f4a7c15L
    else dt match {
      case DoubleType => dbl(v.asInstanceOf[Double])
      case FloatType => dbl(v.asInstanceOf[Float].toDouble)
      case _: DecimalType => dbl(v.asInstanceOf[Decimal].toDouble)
      case StringType | _: StringType => bytes(v.asInstanceOf[UTF8String].getBytes)
      case BinaryType => bytes(v.asInstanceOf[Array[Byte]])
      case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
      case ByteType => v.asInstanceOf[Byte].toLong
      case ShortType => v.asInstanceOf[Short].toLong
      case IntegerType | DateType => v.asInstanceOf[Int].toLong
      case LongType | TimestampType | TimestampNTZType => v.asInstanceOf[Long]
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        var h = 17L
        var i = 0
        while (i < a.numElements()) {
          h = mix(h * 31 + value(if (a.isNullAt(i)) null else a.get(i, et), et)); i += 1
        }
        h
      case st: StructType => row(v.asInstanceOf[InternalRow], st)
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        val ks = m.keyArray(); val vs = m.valueArray()
        var h = 0L
        var i = 0
        while (i < m.numElements()) {
          h += mix(value(ks.get(i, kt), kt) * 31 +
            value(if (vs.isNullAt(i)) null else vs.get(i, vt), vt))
          i += 1
        }
        h
      case other => bytes(String.valueOf(v).getBytes("UTF-8"))
    }

  def row(r: InternalRow, st: StructType): Long = {
    var h = 23L
    var i = 0
    while (i < st.length) {
      val dt = st(i).dataType
      h = mix(h * 31 + value(if (r.isNullAt(i)) null else r.get(i, dt), dt)); i += 1
    }
    h
  }

  /** Executes the query once and returns (rows, hash). */
  def of(df: DataFrame): (Long, Long) = {
    val st = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var h = 0L
      it.foreach { r => n += 1; h += mix(row(r, st)) }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}

/** `batch_registry`: registry keys run in passes, each pass in a key
  * order shuffled by the seed. The first pass runs in the fresh session;
  * later passes run until the measuring window ends, at least three. */
object BatchWorkload {

  /** graft's registry modules, named as the per-module rollups. */
  val modules: Seq[(String, graft.QueryModule)] = Seq(
    "cdc" -> graft.cdc.CdcQueries,
    "mask" -> graft.mask.MaskQueries,
    "classify" -> graft.classify.ClassifyQueries,
    "dedup" -> graft.dedup.Dedup,
    "sim" -> graft.sim.Knn,
    "sim" -> graft.sim.EmbOps,
    "text" -> graft.text.TextAnalysis,
    "pipeline" -> graft.pipeline.CorpusPipeline,
    "multimodal" -> graft.multimodal.BinaryPipeline)

  val moduleNames: Seq[String] = modules.map(_._1).distinct

  /** The workload's keys: a fixed subset of the registry, small enough
    * that a cold pass and three later passes fit one run (a full pass
    * over all 73 paper keys takes about 31 s warm and 51 s cold on 4
    * cores; see NOTES.md). */
  val Keys: Seq[String] = Seq(
    // the paper's envelope parse, end-to-end replicate, classify and
    // mask operators: short queries where per-query fixed cost dominates
    "cdc_parse_envelope", "cdc_e2e_replicate", "mask_classified", "mask_hash",
    "cls_schema_scan", "cls_text_pii",
    // corpus operators: an iterative loop (star contraction), and the
    // LSH and BPE session memos built on first use
    "dedup_components_star", "dedup_minhash_lsh", "txt_bpe_apply")

  /** Later passes whose times give the pass and per-key samples: fixed
    * positions, because the JIT is still warming across passes. */
  val MeasuredPasses: Seq[Int] = Seq(2, 3, 4)

  final case class KeyRun(pass: Int, key: String, module: String,
      buildMs: Double, planMs: Double, execMs: Double, ok: Boolean,
      execStartMs: Long, traced: Boolean) {
    def wallMs: Double = buildMs + planMs + execMs
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val fns = modules.flatMap { case (m, q) =>
      q.queries.toSeq.map { case (k, f) => k -> (m, f) } }.toMap
    val missing = Keys.filterNot(fns.contains)
    require(missing.isEmpty, s"registry has no key ${missing.mkString(", ")}")
    val expected = Expected.load(ctx.expectedPath)
    val recorded = mutable.LinkedHashMap.empty[String, (Long, Long)]
    val runs = mutable.ArrayBuffer.empty[KeyRun]
    val passWall = mutable.LinkedHashMap.empty[Int, Double]
    val orders = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    var pass = 0
    val passGcMs = mutable.HashMap.empty[Int, Long]
    // a traced run makes seven passes: later passes alternate traced and
    // untraced, and traced minus untraced pass time is the overhead
    val minPasses = if (ctx.trace) 7 else MeasuredPasses.max
    while (pass < minPasses || (elapsedS < ctx.seconds && !ctx.recordOnly)) {
      pass += 1
      val traced = ctx.trace && (pass == 1 || pass % 2 == 0)
      ctx.setTracing(traced)
      val gc0 = Host.gcMs()
      val order = new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(Keys)
      orders += s"pass $pass: ${order.mkString(",")}"
      val (_, pMs) = ctx.tracer.span(s"pass-$pass", s"${ctx.workload}.pass") { pid =>
        order.foreach { key =>
          val (module, fn) = fns(key)
          val group = s"p$pass/$key"
          if (traced) spark.sparkContext.setJobGroup(group, key)
          var ok = false
          var build, plan, exec = 0.0
          var execStartMs = Long.MaxValue
          ctx.tracer.span(group, "key", pid) { kid =>
            try {
              val (df, b) = ctx.tracer.span(group, "build", kid)(_ => fn(spark, ctx.dataDir))
              build = b
              plan = ctx.tracer.span(group, "plan", kid)(_ => df.queryExecution.executedPlan)._2
              execStartMs = System.currentTimeMillis()
              val (res, e) = ctx.tracer.span(group, "exec", kid)(_ => ContentHash.of(df))
              exec = e
              if (ctx.recordOnly) { recorded(key) = res; ok = true }
              else expected.get(key) match {
                case Some(exp) if exp == res => ok = true
                case Some(exp) => ctx.fail(s"$key pass $pass: rows/hash ${res._1}/" +
                  s"${res._2.toHexString}, expected ${exp._1}/${exp._2.toHexString}")
                case None => ctx.fail(s"$key: no expected result recorded")
              }
            } catch {
              case e: Throwable => ctx.fail(s"$key pass $pass threw: $e")
            }
          }
          if (traced) spark.sparkContext.clearJobGroup()
          ctx.attempted += 1
          if (!ok) ctx.failed += 1
          runs += KeyRun(pass, key, module, build, plan, exec, ok, execStartMs, traced)
        }
      }
      passWall(pass) = pMs
      passGcMs(pass) = Host.gcMs() - gc0
    }
    ctx.info("passes", pass.toString)
    ctx.info("key_ms", Json.obj(runs.groupBy(_.key).toSeq.sortBy(_._1).map { case (k, rs) =>
      k -> Json.obj(Seq(
        "first" -> Json.num(rs.filter(_.pass == 1).map(_.wallMs).sum),
        "later_median" -> Json.num(Stats.median(rs.filter(_.pass > 1).map(_.wallMs).toSeq))))
    }))
    ctx.info("key_orders", Json.str(orders.mkString(" | ")))
    if (ctx.recordOnly) { Expected.write(ctx.expectedPath, recorded.toSeq); return }

    // a failed key counts as missing any latency limit: its sample is
    // at least the whole window, never a fast success
    val windowMs = ctx.seconds * 1000.0
    def sampleMs(r: KeyRun) = if (r.ok) r.wallMs else math.max(windowMs, r.wallMs)
    val measured = runs.filter(r => MeasuredPasses.contains(r.pass))
    val opMs = measured.map(sampleMs).toSeq
    // the whole key set is due when its pass starts: a pass's lag is
    // the time until every result of it exists
    val lagMs = MeasuredPasses.map(p =>
      if (measured.forall(r => r.pass != p || r.ok)) passWall(p)
      else math.max(windowMs, passWall(p)))
    ctx.metric("cold_s", passWall(1) / 1000.0, "s")
    ctx.latency("op_ms", opMs)
    ctx.latency("lag_ms", lagMs)
    ctx.metric("items_per_s", Keys.size / (Stats.median(lagMs) / 1000.0), "1/s")

    if (ctx.trace) {
      ctx.counter.settle()
      val byKey = runs.groupBy(_.key)
      val coldExtra = byKey.values.map { rs =>
        val first = rs.find(_.pass == 1).map(_.wallMs).getOrElse(0.0)
        val later = rs.filter(_.pass > 1).map(_.wallMs).toSeq
        if (later.isEmpty) 0.0 else first - Stats.median(later)
      }.sum
      ctx.layer("cold_extra_ms", coldExtra, "ms")
      // per-layer figures are per-pass means over the traced later passes
      val tracedLater = runs.filter(r => r.traced && r.pass > 1)
      val nPasses = tracedLater.map(_.pass).distinct.size.max(1).toDouble
      val counts = tracedLater.map(r => r -> ctx.counter.counts(s"p${r.pass}/${r.key}", r.execStartMs))
      ctx.layer("build_ms", tracedLater.map(_.buildMs).sum / nPasses, "ms")
      ctx.layer("plan_ms", tracedLater.map(_.planMs).sum / nPasses, "ms")
      ctx.layer("exec_ms", tracedLater.map(_.execMs).sum / nPasses, "ms")
      ctx.engineLayers(counts.map(_._2).toSeq, tracedLater.map(_.execMs).sum, nPasses,
        tracedLater.map(_.pass).distinct.map(passGcMs).sum / nPasses)
      ctx.layer("build_jobs", counts.map(_._2.jobsBefore).sum / nPasses, "count")
      for (m <- moduleNames) {
        val ms = counts.filter(_._1.module == m)
        ctx.layer(s"$m.build_ms", ms.map(_._1.buildMs).sum / nPasses, "ms")
        ctx.layer(s"$m.exec_ms", ms.map(_._1.execMs).sum / nPasses, "ms")
        ctx.layer(s"$m.jobs", ms.map(_._2.jobs).sum / nPasses, "count")
        ctx.layer(s"$m.task_ms", ms.map(_._2.taskMs).sum / nPasses, "ms")
      }
      val tracedPass = passWall.filter { case (p, _) => p > 1 && p % 2 == 0 }.values.toSeq
      val plainPass = passWall.filter { case (p, _) => p > 1 && p % 2 == 1 }.values.toSeq
      ctx.overhead(Stats.median(tracedPass), Stats.median(plainPass))
    }
  }
}

/** Expected per-key (rows, hash), kept with the benchmark. */
object Expected {
  def load(path: String): Map[String, (Long, Long)] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else {
      val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).get("keys")
      import scala.jdk.CollectionConverters._
      tree.fieldNames().asScala.map { k =>
        val n = tree.get(k)
        k -> (n.get("rows").asLong(), java.lang.Long.parseUnsignedLong(n.get("hash").asText(), 16))
      }.toMap
    }
  }

  def write(path: String, rows: Seq[(String, (Long, Long))]): Unit = {
    val old = load(path)
    val all = (old ++ rows).toSeq.sortBy(_._1)
    val body = all.map { case (k, (n, h)) =>
      s"    ${Json.str(k)}: {\"rows\": $n, \"hash\": \"${java.lang.Long.toHexString(h)}\"}"
    }.mkString(",\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      s"{\n  \"keys\": {\n$body\n  }\n}\n")
  }
}
