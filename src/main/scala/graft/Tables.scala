package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.LongType

/** Schema-aware loaders for the driver-generated parquet tables.
  *
  * Plain `spark.read.parquet` keeps the scan declarative so Catalyst
  * applies column pruning + predicate pushdown (verified in PlanSpec).
  * At 100 TB these would be partitioned/bucketed external tables; the
  * loader is the single seam where that swap happens.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS) which Spark has no native
    * type for; with `spark.sql.legacy.parquet.nanosAsLong=true` it
    * surfaces as long nanos — truncate to micros (integer `div`, no
    * double round-trip: ~1.7e18 doesn't fit a double mantissa), same
    * truncation DuckDB applies reading nanos into its micros timestamps.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      // NTZ keeps downstream outputs naive-timestamped (parquet writes
      // of LTZ get the UTC-adjusted flag, which naive-timestamp engines
      // read as a different type); session tz is UTC so values match.
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000"))
        .cast(org.apache.spark.sql.types.TimestampNTZType))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Deterministic sort tail for DIM-BOUNDED report outputs (per-
    * nation/type/flag/decile rollups — row counts fixed by a
    * dimension, not by the corpus). A global `.orderBy` plans a range
    * exchange whose boundary SAMPLING is its own Spark job plus a
    * shuffle stage — pure overhead when the frame is a few dozen
    * rows (measured ~0.1–0.15 s per query at bench SF, and the same
    * two wasted stages on a cluster). `coalesce(1)` + an in-partition
    * sort produces the identical total order (callers' sort keys are
    * total — the post-q24 tie-break discipline) with zero exchange.
    * NOT for corpus-proportional outputs: a single-task sort of a
    * per-document frame is exactly the unpartitioned-sort trap the
    * r11 verdict flagged — those keep their global orderBy. */
  def reportSort(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  /** Strategy-injected lineage cut for hot checkpointed frames
    * (melted projections, shared retrieval lists, per-round loop
    * states). Default: executor-local checkpoint — cheap and right
    * for a single-JVM bench, but lost with the executor on a real
    * cluster, where a mid-job loss makes the frame unrecoverable
    * rather than recomputable. The 100 TB posture sets
    * `spark.graft.checkpoint.reliable=true` (plus
    * `sc.setCheckpointDir` on durable storage) and every hot site
    * flips to storage-backed checkpoints with no code edits
    * (R13OpsSpec pins both paths result-equal). Reliable mode with no
    * checkpoint dir fails fast, naming the setting. */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.conf.getOption("spark.graft.checkpoint.reliable")
        .contains("true")) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "spark.graft.checkpoint.reliable=true needs a checkpoint " +
          "directory: call sparkContext.setCheckpointDir on durable storage")
      df.checkpoint(eager)
    } else df.localCheckpoint(eager)

  /** Content fingerprint for write-once layout caches (q26's buckets,
    * the partitioned-docs layout): md5 over the source dir path PLUS
    * every parquet file's (name, size, first+last 4 KiB of bytes) —
    * the tail covers the parquet footer (row counts, column stats,
    * offsets), so changed CONTENT changes the tag while a
    * byte-identical regeneration (same deterministic generator, fresh
    * mtimes) keeps it and re-attaches the layout instead of paying the
    * bucketed write again. Deliberately NOT mtime-based: the bench
    * data is regenerated per round with identical bytes, and an
    * mtime-keyed tag made every round rebuild a layout it already had.
    * Single-writer per tag is still assumed (fine for a bench sandbox;
    * a shared lakehouse wants a real transactional catalog instead of
    * an `_SUCCESS` probe). */
  def layoutTag(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(dir.getBytes("UTF-8"))
    val files = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    files.foreach { f =>
      md.update(s"|${f.getName}:${f.length}:".getBytes("UTF-8"))
      // a file deleted/swapped between listFiles() and open must not
      // kill the caller — fold the failure into the tag instead (the
      // next call over settled files produces the settled tag). Bytes
      // changed ONLY in the unsampled middle of an equal-sized file
      // are a known blind spot; the sampled tail covers the parquet
      // footer (row counts, column stats, offsets), which any real
      // parquet rewrite perturbs.
      try {
        val raf = new java.io.RandomAccessFile(f, "r")
        try {
          val head = new Array[Byte](math.min(4096L, raf.length).toInt)
          raf.readFully(head); md.update(head)
          if (raf.length > 4096) {
            val tail = new Array[Byte](4096)
            raf.seek(raf.length - 4096); raf.readFully(tail); md.update(tail)
          }
        } finally raf.close()
      } catch {
        case _: java.io.IOException => md.update("unreadable".getBytes("UTF-8"))
      }
    }
    md.digest().map("%02x".format(_)).mkString.take(8)
  }

  /** Per-JVM layout root. Layouts are write-once WITHIN a session —
    * the first consumer pays the build, every later consumer in the
    * same JVM re-attaches the finished files — but they never survive
    * the process: every bench/verify invocation computes everything
    * from the parquet inputs alone. (In production this root is the
    * shared lakehouse catalog location and layouts are durable tables;
    * in a benchmarked sandbox, cross-run reuse would let a later run
    * skip work a fresh run must pay, corrupting the measurement.) The
    * shutdown hook reclaims the directory on clean JVM exit. */
  lazy val sessionLayoutRoot: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_layouts_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete()
      }
      rm(d.toFile)
    }))
    d.toString
  }

  /** WRITE-ONCE BUCKETED LAYOUT publish-or-attach (the q26/kNN-edge
    * precedent, shared): the first consumer per (content, params,
    * algo-version) tag pays `build` ONCE; every later consumer in this
    * session re-attaches the finished layout, with `bucketCol`-keyed
    * consumers riding the layout without an exchange.
    *
    * Two modes, switched by `spark.graft.layout.mode`:
    *   - `memo` (default): the build is hash-repartitioned on
    *     `bucketCol` into `nBuckets` partitions, sorted within
    *     partitions, and eagerly `localCheckpoint`ed into a session
    *     memo. `Dataset.checkpoint` preserves the physical plan's
    *     output partitioning AND ordering in the resulting LogicalRDD,
    *     so keyed consumers get the same exchange/sort elision a
    *     bucketed table scan gave — without the parquet write, the
    *     read-back scans, and the catalog DDL round-trips the table
    *     path pays (measured ~4.8 s per family at bench SF, pure
    *     publish overhead). Right for a single-JVM session; the blocks
    *     die with the executors.
    *   - `table`: the original durable form — the rows are published
    *     as a bucketed external table under [[sessionLayoutRoot]].
    *     Publication is ATOMIC: the build lands in a private staging
    *     dir and renames into place, so a concurrent session thread
    *     either sees a finished `_SUCCESS` (attaches) or loses the
    *     rename race. This is the 100 TB posture: point
    *     [[sessionLayoutRoot]] at a durable catalog location and the
    *     layout outlives the session as a real lakehouse table.
    *
    * Callers must fold every content/parameter/version dependency into
    * `tag`; a stale-keyed tag silently serves stale rows. Both modes
    * recompute from the parquet inputs every JVM — nothing persists
    * across runs (see [[sessionLayoutRoot]]). */
  def attachBucketed(spark: SparkSession, tag: String, name: String,
      cols: String, bucketCol: String, nBuckets: Int)
      (build: => DataFrame): DataFrame =
    if (spark.conf.getOption("spark.graft.layout.mode").contains("table"))
      attachBucketedTable(spark, tag, name, cols, bucketCol, nBuckets)(build)
    else layoutMemo.synchronized {
      var m = layoutMemo.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty
        layoutMemo.put(spark, m)
      }
      m
    }.getOrElseUpdate(s"$tag|$name", {
      // materialize the build under the session's normal planning
      // (AQE on — iterative builds need runtime broadcast), THEN lay
      // the finished rows out with AQE disabled for the one
      // repartition+sort: an adaptive plan reports unknown output
      // partitioning at checkpoint time, so a layout checkpointed
      // under AQE loses the bucket partitioning consumers elide
      // exchanges against (measured: the keyed consumer plan gains an
      // ENSURE_REQUIREMENTS exchange). The flip is scoped to this
      // session-single-threaded publish step and always restored.
      val rows = cut(build)
      val conf = spark.conf
      val prev = conf.get("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.enabled", "false")
      try cut(rows.repartition(nBuckets, col(bucketCol))
        .sortWithinPartitions(bucketCol))
      finally conf.set("spark.sql.adaptive.enabled", prev)
    })

  /** Session memo for `memo`-mode layouts. Weak keys alone can never
    * collect an entry (the DataFrame strongly references its session),
    * but entries die with the JVM — acceptable for a bench sandbox;
    * long-lived multi-session drivers should use `table` mode. */
  private val layoutMemo = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[String, DataFrame]]()

  private def attachBucketedTable(spark: SparkSession, tag: String,
      name: String, cols: String, bucketCol: String, nBuckets: Int)
      (build: => DataFrame): DataFrame = {
    val table = s"graft_buckets.$name"
    val dbLoc = s"$sessionLayoutRoot/graft_buckets_$tag"
    if (!spark.catalog.databaseExists("graft_buckets"))
      spark.sql(
        s"CREATE DATABASE IF NOT EXISTS graft_buckets LOCATION '$dbLoc'")
    if (!spark.catalog.tableExists(table)) {
      val finalDir = new java.io.File(s"$dbLoc/$name")
      if (!new java.io.File(finalDir, "_SUCCESS").exists()) {
        val stageName = s"${name}_stage_${ProcessHandle.current.pid}"
        val stageTable = s"graft_buckets.$stageName"
        spark.sql(s"DROP TABLE IF EXISTS $stageTable")
        build.write.mode("overwrite")
          .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
          .option("path", s"$dbLoc/$stageName").saveAsTable(stageTable)
        spark.sql(s"DROP TABLE $stageTable") // external: files remain
        val stageDir = new java.io.File(s"$dbLoc/$stageName")
        if (!stageDir.renameTo(finalDir)) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete()
          }
          rm(stageDir)
        }
      }
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $table ($cols)
           |USING parquet CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
           |INTO $nBuckets BUCKETS LOCATION '$dbLoc/$name'""".stripMargin)
    }
    spark.table(table)
  }
}
