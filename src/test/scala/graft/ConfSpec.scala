package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cdc.Envelope
import graft.conf.{ConfigPipeline, GraftConfig}

/** End-to-end assembly driven ONLY by a properties file mirroring the
  * reference's conf/config.properties names — the drop-in parity
  * check: parse → exclude → classify+mask → route → sink, with every
  * stage resolved from the config. */
class ConfSpec extends SparkSpec {
  import spark.implicits._

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("full_name", StringType)))

  /** Writes the reference-format XML libraries + config.properties
    * into a temp dir and returns the loaded config. */
  private def makeConfig(extra: String): (GraftConfig, String) = {
    val dir = Files.createTempDirectory("graft-conf").toString
    Files.writeString(java.nio.file.Path.of(dir, "lib.rules"),
      """<?xml version="1.0" encoding="ASCII"?>
        |<rules:RuleLibrary xmlns:rules="http://rules/1.0">
        |  <rules name="UpRule">
        |    <properties fieldRulePropertyType="EXPRESSION" value="toupper(${FIELDNAME})"/>
        |  </rules>
        |</rules:RuleLibrary>""".stripMargin)
    Files.writeString(java.nio.file.Path.of(dir, "lib.dataclass"),
      """<?xml version="1.0" encoding="ASCII"?>
        |<dataclass:DataClassLibrary xmlns:dataclass="http://dataclass/1.0">
        |  <dataClasses name="NAME" nameMatcher="(?i).*name$">
        |    <defaultRule href="lib.rules#UpRule"/>
        |    <matchers details="[A-Za-z ]+"/>
        |  </dataClasses>
        |</dataclass:DataClassLibrary>""".stripMargin)
    Files.writeString(java.nio.file.Path.of(dir, "config.properties"),
      s"""table.exclude.list=.*_masked,secrets
         |targetNamePostfix=_masked
         |dataTarget=$dir/out
         |dataTargetSeparator=\\t
         |dataClassLibraryPath=$dir/lib.dataclass
         |rulesLibraryPath=$dir/lib.rules
         |$extra
         |""".stripMargin)
    (GraftConfig.load(s"$dir/config.properties"), dir)
  }

  /** Envelope JSON for (id, name) creates of one table. */
  private def envelope(table: String, rows: Seq[(Long, String)]) =
    changes(table, rows.map { case (id, name) => ("c", 1L, id, name) })

  /** Envelope JSON for (op, ts_ms, id, name) changes of one table; a
    * delete carries its row in `before`, any other op in `after`. */
  private def changes(table: String, rows: Seq[(String, Long, Long, String)]) = {
    val row = struct(col("id"), col("full_name"))
    val none = lit(null).cast(rowSchema)
    val isDelete = col("op") === "d"
    rows.toDF("op", "ts_ms", "id", "full_name").select(Envelope.wrap(
      when(isDelete, row).otherwise(none), when(isDelete, none).otherwise(row),
      "graft", table, col("op"), col("ts_ms")).as("value"))
  }

  private def derby(url: String)(statements: String*): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try statements.foreach(c.createStatement().execute) finally c.close()
  }

  private def targetRows(url: String, table: String): Map[Long, String] =
    spark.read.format("jdbc").option("url", url).option("dbtable", table)
      .load().select("id", "full_name").as[(Long, String)].collect().toMap

  test("properties file alone assembles exclude+mask+route (reference names)") {
    val (cfg, _) = makeConfig("dataTargetProcessType=batch")
    assert(cfg.tableExcludeList == Seq(".*_masked", "secrets"))
    assert(cfg.dataTargetSeparator == "\t")
    val src = envelope("users", Seq((1L, "ada lovelace"), (2L, "alan turing")))
      .union(envelope("secrets", Seq((9L, "top secret"))))
      .union(envelope("users_masked", Seq((8L, "already masked"))))
    val out = ConfigPipeline.assemble(
      src, rowSchema, cfg, ConfigPipeline.library(cfg))
    val rows = out.select("target_table", "id", "full_name")
      .as[(String, Long, String)].collect().sortBy(_._2)
    // excluded tables (the reference's own .*_masked guard + the
    // explicit name) never reach the target; names are masked by the
    // library's default rule; the target name carries the postfix
    assert(rows.toSeq == Seq(
      ("users_masked", 1L, "ADA LOVELACE"),
      ("users_masked", 2L, "ALAN TURING")))
  }

  test("separator values survive untrimmed (space and escaped tab)") {
    val p = new java.util.Properties()
    p.setProperty("dataTargetSeparator", " ")
    assert(graft.conf.GraftConfig.fromProperties(p).dataTargetSeparator == " ")
    p.setProperty("dataTargetSeparator", "\\t")
    assert(graft.conf.GraftConfig.fromProperties(p).dataTargetSeparator == "\t")
    p.remove("dataTargetSeparator")
    assert(graft.conf.GraftConfig.fromProperties(p).dataTargetSeparator == "\t")
  }

  test("batch file target writes per-table delimited output") {
    val (cfg, dir) = makeConfig("dataTargetProcessType=batch")
    val out = ConfigPipeline.assemble(
      envelope("users", Seq((1L, "ada lovelace"))), rowSchema, cfg,
      ConfigPipeline.library(cfg))
    ConfigPipeline.writeBatch(out, cfg)
    val part = new java.io.File(s"$dir/out/target_table=users_masked")
    assert(part.isDirectory, s"expected per-table dir under $dir/out")
    val lines = part.listFiles().filter(_.getName.endsWith(".csv"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq
    assert(lines.exists(_.contains("ADA LOVELACE")), lines.mkString("\n"))
  }

  test("record process type streams one appended line per change") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (cfg, dir) = makeConfig("dataTargetProcessType=record")
    assert(cfg.dataTargetProcessType == "record")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val masked = ConfigPipeline.assemble(
      mem.toDF().select(col("value")), rowSchema, cfg,
      ConfigPipeline.library(cfg))
    val q = ConfigPipeline.sinkStream(masked, cfg)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-conf-ckpt").toString)
      .start()
    try {
      mem.addData(envelope("users", Seq((1L, "ada lovelace")))
        .as[String].collect().toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val recs = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".rec"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq
    assert(recs.exists(l => l.contains("ADA LOVELACE") && l.contains("\t")),
      s"expected tab-separated record lines, got: $recs")
  }

  test("offset store property makes a restarted pipeline resume, not replay") {
    // the reference persists Debezium offsets in offsets.dat
    // (offset.storage.file.filename); graft maps that to the Spark
    // checkpoint. Restarting over a file source must pick up ONLY the
    // file landed while down — no duplicates of the first batch.
    val (cfg0, dir) = makeConfig("dataTargetProcessType=record")
    val cfg = cfg0.copy(offsetStoragePath = Some(s"$dir/offsets.dat"))
    val in = Files.createDirectory(java.nio.file.Path.of(dir, "in")).toString
    def land(name: String, rows: Seq[(Long, String)]): Unit =
      envelope("users", rows).coalesce(1).write.mode("append").text(s"$in/$name")
    def run(): Unit = {
      val stream = spark.readStream.text(s"$in/*")
      val masked = ConfigPipeline.assemble(stream, rowSchema, cfg,
        ConfigPipeline.library(cfg))
      val q = ConfigPipeline.sinkStream(masked, cfg).start()
      try q.processAllAvailable() finally q.stop()
    }
    land("f1", Seq((1L, "ada lovelace"), (2L, "alan turing")))
    run()
    land("f2", Seq((3L, "grace hopper")))
    run()
    val recs = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".rec"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines()).toSeq
    assert(recs.count(_.contains("ADA LOVELACE")) == 1 &&
      recs.count(_.contains("GRACE HOPPER")) == 1 &&
      recs.length == 3,
      s"restart replayed or dropped records: $recs")
  }

  test("DSN target upserts per postfixed table through the configured url") {
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftconf;create=true"
    val (cfg, _) = makeConfig(
      s"""DSN=testdsn
         |DSN.testdsn.url=$url""".stripMargin)
    assert(cfg.dsn.contains("testdsn") && cfg.dsnUrl.contains(url))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE users_masked (id BIGINT PRIMARY KEY, full_name VARCHAR(64))")
      val out = ConfigPipeline.assemble(
        envelope("users", Seq((1L, "ada lovelace"), (2L, "alan turing"))),
        rowSchema, cfg, ConfigPipeline.library(cfg))
      ConfigPipeline.applyJdbc(out, cfg, "id", "ts_ms", Seq("full_name"))
      val rs = conn.createStatement()
        .executeQuery("SELECT id, full_name FROM users_masked ORDER BY id")
      val got = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => (r.getLong(1), r.getString(2))).toSeq
      assert(got == Seq((1L, "ADA LOVELACE"), (2L, "ALAN TURING")))
    } finally conn.close()
  }

  test("DSN target routes c/u/d of two tables into schema-qualified targets") {
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftroute;create=true"
    val (cfg, _) = makeConfig(
      s"""DSN=routedsn
         |DSN.routedsn.url=$url
         |dataTargetSchema=replica""".stripMargin)
    derby(url)("CREATE SCHEMA replica",
      "CREATE TABLE replica.users_masked (id BIGINT PRIMARY KEY, full_name VARCHAR(64))",
      "CREATE TABLE replica.staff_masked (id BIGINT PRIMARY KEY, full_name VARCHAR(64))")
    val log = Map(
      "users" -> Seq(("c", 1L, 1L, "ada lovelace"), ("c", 2L, 2L, "alan turing"),
        ("u", 3L, 1L, "ada king"), ("d", 4L, 2L, "alan turing"),
        ("c", 5L, 3L, "grace hopper")),
      "staff" -> Seq(("c", 1L, 1L, "edsger dijkstra"), ("c", 2L, 4L, "barbara liskov"),
        ("u", 3L, 1L, "edsger w dijkstra"), ("d", 4L, 4L, "barbara liskov")))
    val batch = ConfigPipeline.assemble(
      log.map { case (t, rows) => changes(t, rows) }.reduce(_ union _),
      rowSchema, cfg, ConfigPipeline.library(cfg))
    // the latest non-deleted change per key, masked by the library rule
    val expected = log.map { case (t, rows) =>
      s"replica.${t}_masked" -> rows.groupBy(_._3).values.map(_.maxBy(_._2))
        .filter(_._1 != "d").map(r => r._3 -> r._4.toUpperCase).toMap
    }
    ConfigPipeline.applyJdbc(batch, cfg, "id", "ts_ms", Seq("full_name"))
    val got = expected.keys.map(t => t -> targetRows(url, t)).toMap
    assert(got == expected)
    // idempotent replay (a retried micro-batch): the state does not move
    ConfigPipeline.applyJdbc(batch, cfg, "id", "ts_ms", Seq("full_name"))
    assert(expected.keys.map(t => t -> targetRows(url, t)).toMap == got)
  }

  test("DSN apply starts the same jobs for one target table as for three, caching nothing") {
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftjobs;create=true"
    val (cfg, _) = makeConfig(
      s"""DSN=jobsdsn
         |DSN.jobsdsn.url=$url""".stripMargin)
    val tables = Seq("a", "b", "c")
    derby(url)(tables.map(t =>
      s"CREATE TABLE ${t}_masked (id BIGINT PRIMARY KEY, full_name VARCHAR(64))"): _*)
    def batch(ts: Seq[String]) = ConfigPipeline.assemble(
      ts.map(t => changes(t, Seq(("c", 1L, 1L, s"$t one"), ("u", 2L, 1L, s"$t two"),
        ("c", 3L, 2L, s"$t three")))).reduce(_ union _),
      rowSchema, cfg, ConfigPipeline.library(cfg))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val one = jobsStartedBy(
      ConfigPipeline.applyJdbc(batch(tables.take(1)), cfg, "id", "ts_ms", Seq("full_name")))
    val three = jobsStartedBy(
      ConfigPipeline.applyJdbc(batch(tables), cfg, "id", "ts_ms", Seq("full_name")))
    assert(one == three && three <= 2, s"jobs: 1 table -> $one, 3 tables -> $three")
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore,
      "applyJdbc left RDDs persisted")
    assert(tables.map(t => targetRows(url, s"${t}_masked")) ==
      tables.map(t => Map(1L -> s"${t.toUpperCase} TWO", 2L -> s"${t.toUpperCase} THREE")))
  }

  test("sink misconfiguration fails fast, naming the setting at fault") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (cfg, _) = makeConfig("dataTargetProcessType=batch")
    implicit val sqlCtx = spark.sqlContext
    val stream = ConfigPipeline.assemble(MemoryStream[String].toDF()
      .select(col("value")), rowSchema, cfg, ConfigPipeline.library(cfg))
    // the micro-batch file branch: rejected when the writer is built,
    // not inside the first trigger
    val noTarget = intercept[IllegalArgumentException](
      ConfigPipeline.sinkStream(stream, cfg.copy(dataTarget = None)))
    assert(noTarget.getMessage.contains("dataTarget"), noTarget.getMessage)
    val batch = ConfigPipeline.assemble(envelope("users", Seq((1L, "ada lovelace"))),
      rowSchema, cfg, ConfigPipeline.library(cfg))
    val noDsn = intercept[IllegalArgumentException](
      ConfigPipeline.applyJdbc(batch, cfg, "id", "ts_ms", Seq("full_name")))
    assert(noDsn.getMessage == "DSN not configured", noDsn.getMessage)
    val noUrl = intercept[IllegalArgumentException](ConfigPipeline.applyJdbc(
      batch, cfg.copy(dsn = Some("nourl")), "id", "ts_ms", Seq("full_name")))
    assert(noUrl.getMessage.contains("'nourl'") &&
      noUrl.getMessage.contains("DSN.<name>.url"), noUrl.getMessage)
  }
}
