package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cdc.Envelope
import graft.streaming.CdcStream
import graft.classify.Libraries

class CdcSpec extends SparkSpec {
  import spark.implicits._

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  test("incremental-snapshot merge equals latest-per-key (DBLog invariant)") {
    // whatever the chunk watermarks, snapshot ∪ changelog merged with
    // watermark dedup must produce exactly the plain changelog compaction
    import org.apache.spark.sql.functions._
    val audit = graft.cdc.CdcQueries.incrementalSnapshot(spark, sfDir)
      .agg(sum("n_live").as("live"), sum("final_id_sum").as("idsum"))
      .collect().head
    val applied = graft.cdc.CdcQueries.snapshotApply(spark, sfDir)
      .agg(count(lit(1)).as("n"), sum("last_event_id").as("idsum"))
      .collect().head
    assert(audit.getLong(0) == applied.getLong(0),
      "live key count diverges from snapshot-apply")
    assert(audit.getLong(1) == applied.getLong(1),
      "final event-id checksum diverges from snapshot-apply")
    // and the in-flight supersede machinery must actually fire
    val sup = graft.cdc.CdcQueries.incrementalSnapshot(spark, sfDir)
      .agg(sum("n_superseded")).collect().head.getLong(0)
    assert(sup > 0, "no chunk saw an in-flight change; watermarks degenerate")
  }

  test("streaming SCD2 closes exactly the batch history's intervals") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.streaming.Stateful
    import graft.streaming.Stateful.ChangeRow
    implicit val sqlCtx = spark.sqlContext
    // the sf0.001 changelog, fed in three event-time chunks
    val log = graft.cdc.CdcQueries.changeLog(spark, sfDir)
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("value"), col("op"))
      .as[ChangeRow].collect().sortBy(c => (c.ts.getTime, c.event_id))
    val chunks = log.grouped(math.max(1, log.length / 3 + 1)).toSeq
    val mem = MemoryStream[ChangeRow]
    val q = Stateful.scd2Closed(mem.toDS()).writeStream
      .format("memory").queryName("scd2stream").outputMode("append").start()
    try chunks.foreach { c => mem.addData(c.toSeq: _*); q.processAllAvailable() }
    finally q.stop()
    val streamed = spark.table("scd2stream")
      .select("user_id", "event_id", "value", "valid_from", "valid_to")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getTimestamp(3).getTime, r.getTimestamp(4).getTime)).sorted
    val batch = graft.cdc.CdcQueries.scd2History(spark, sfDir)
      .filter(col("valid_to").isNotNull)
      .select(col("user_id"), col("event_id"), col("value"),
        col("valid_from").cast("timestamp"), col("valid_to").cast("timestamp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getTimestamp(3).getTime, r.getTimestamp(4).getTime)).sorted
    assert(streamed.length == batch.length,
      s"interval counts differ: ${streamed.length} vs ${batch.length}")
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming SCD2 orders same-millisecond events by true micros, " +
      "not event_id") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Stateful
    import graft.streaming.Stateful.ChangeRow
    implicit val sqlCtx = spark.sqlContext
    // two updates in the SAME millisecond whose micros order is the
    // REVERSE of event_id order: event 2 happens first (at .000250),
    // event 1 second (at .000750). An id-tiebreak after ms truncation
    // would close them backwards.
    def microTs(ms: Long, us: Int): Timestamp = {
      val t = new Timestamp(ms); t.setNanos(us * 1000); t
    }
    val base = Timestamp.valueOf("2024-01-01 09:00:00").getTime
    val rows = Seq(
      ChangeRow(10L, new Timestamp(base), 7L, 1.0, "c"),
      ChangeRow(2L, microTs(base + 1000, 250), 7L, 2.0, "u"),
      ChangeRow(1L, microTs(base + 1000, 750), 7L, 3.0, "u"))
    val mem = MemoryStream[ChangeRow]
    val q = Stateful.scd2Closed(mem.toDS()).writeStream
      .format("memory").queryName("scd2micros").outputMode("append").start()
    try { mem.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    val closed = spark.table("scd2micros")
      .select("event_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    // true time order: 10 closed by 2, 2 closed by 1; 1 stays open —
    // so the CLOSED set is {10, 2}, never {10, 1}
    assert(closed == Set((10L, 1.0), (2L, 2.0)),
      s"same-ms events closed in id order, not micros order: $closed")
  }

  test("envelope round-trip preserves op, source, and row payload") {
    val df = Seq((1L, "alice", "c"), (2L, "bob", "u"), (3L, "eve", "d"))
      .toDF("id", "name", "op")
    val json = df.select(Envelope.wrap(
      struct(col("id"), col("name")), struct(col("id"), col("name")),
      "db1", "t1", col("op"), lit(1700000000000L)).as("value"))
    val parsed = Envelope.parse(json, col("value"), rowSchema)
    val rows = parsed.select(col("after.id"), col("after.name"), col("op"),
      col("db"), col("table")).as[(Long, String, String, String, String)]
      .collect().sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "alice", "c", "db1", "t1"),
      (2L, "bob", "u", "db1", "t1"),
      (3L, "eve", "d", "db1", "t1")))
  }

  test("CdcStream.changes routes deletes through `before`") {
    val df = Seq((1L, "alice")).toDF("id", "name")
    val json = df.select(Envelope.wrap(
      struct(col("id"), col("name")),
      lit(null).cast(rowSchema),
      "db1", "t1", lit("d"), lit(0L)).as("value"))
    val ch = CdcStream.changes(json, rowSchema)
    val r = ch.select("op", "id", "name").as[(String, Long, String)].head()
    assert(r == ("d", 1L, "alice"))
  }

  test("maskedChanges masks classified columns consistently per batch") {
    val df = Seq((1L, "Customer#7"), (2L, "Customer#7")).toDF("c_custkey", "c_name")
    val json = df.select(Envelope.wrap(
      lit(null).cast(df.schema), struct(col("c_custkey"), col("c_name")),
      "db1", "customer", lit("c"), lit(0L)).as("value"))
    val masked = CdcStream.maskedChanges(json, df.schema, Libraries.default,
      { case "nation-names" => Seq("P1", "P2", "P3"); case _ => Seq.empty })
    val names = masked.select("c_name").as[String].collect()
    assert(names.toSet.size == 1, "same input must mask to same pseudonym")
    assert(Seq("P1", "P2", "P3").contains(names.head))
  }

  test("connector-dialect envelopes: db, keyspace, and schema all resolve") {
    // MySQL publishes source.db, Vitess source.keyspace, others
    // source.schema (reference Main.java:71-80) — parse resolves all
    // three to src_schema without connector configuration
    val envs = Seq(
      """{"payload":{"after":{"id":1,"name":"a"},"source":{"db":"shop","table":"t"},"op":"c","ts_ms":1}}""",
      """{"payload":{"after":{"id":2,"name":"b"},"source":{"keyspace":"shop","table":"t"},"op":"c","ts_ms":2}}""",
      """{"payload":{"after":{"id":3,"name":"c"},"source":{"schema":"shop","table":"t"},"op":"c","ts_ms":3}}""")
      .toDF("value")
    val parsed = Envelope.parse(envs, col("value"), rowSchema)
      .select(col("after.id"), col("src_schema"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(parsed.toSeq == Seq((1L, "shop"), (2L, "shop"), (3L, "shop")))
  }

  test("upsert key is DISCOVERED from the record key schema, not configured") {
    // Debezium-style record keys: {schema:{fields:[{field:...}]},
    // payload:{...}} (reference Main.java:183-189). The key field name
    // differs per record to prove nothing is hardcoded.
    def key(field: String, v: Long) =
      s"""{"schema":{"fields":[{"field":"$field"}]},"payload":{"$field":$v}}"""
    def env(id: Long, name: String, op: String, ts: Long) =
      s"""{"payload":{"before":{"id":$id,"name":"$name"},"after":{"id":$id,"name":"$name"},""" +
        s""""source":{"db":"d","table":"t"},"op":"$op","ts_ms":$ts}}"""
    val kv = Seq(
      (key("id", 1), env(1, "a0", "c", 1)),
      (key("id", 1), env(1, "a1", "u", 2)),
      (key("id", 2), env(2, "b0", "c", 3)),
      (key("id", 2), env(2, "b0", "d", 4)),
      (key("user_ref", 9), env(9, "z", "c", 5)))
      .toDF("key", "value")
    val keyed = CdcStream.changesKeyed(kv, rowSchema)
    val fields = keyed.select("key_field").as[String].collect().toSet
    assert(fields == Set("id", "user_ref"), s"discovered: $fields")
    val state = CdcStream.upsertDiscovered(keyed)
      .select("key_value", "name").as[(String, String)].collect().toMap
    // id=1 ends updated, id=2 deleted, user_ref=9 inserted
    assert(state == Map("1" -> "a1", "9" -> "z"))
  }

  test("upsertDiscovered scopes latest-wins per (schema, table, key), not per key value") {
    // A mixed-table stream where customer id=1 and orders id=1 share
    // the key VALUE: per-table routing (reference Main.java:477-498)
    // must keep both — collapsing them would silently drop one table's
    // state. The later orders row must also not "win" over customer.
    def key(v: Long) =
      s"""{"schema":{"fields":[{"field":"id"}]},"payload":{"id":$v}}"""
    def env(table: String, id: Long, name: String, op: String, ts: Long) =
      s"""{"payload":{"before":{"id":$id,"name":"$name"},"after":{"id":$id,"name":"$name"},""" +
        s""""source":{"db":"d","table":"$table"},"op":"$op","ts_ms":$ts}}"""
    val kv = Seq(
      (key(1), env("customer", 1, "cust-v1", "c", 1)),
      (key(1), env("customer", 1, "cust-v2", "u", 2)),
      (key(1), env("orders", 1, "ord-v1", "c", 3)),
      (key(2), env("orders", 2, "ord-gone", "c", 4)),
      (key(2), env("orders", 2, "ord-gone", "d", 5)))
      .toDF("key", "value")
    val state = CdcStream.upsertDiscovered(
        CdcStream.changesKeyed(kv, rowSchema))
      .select("table", "key_value", "name")
      .as[(String, String, String)].collect().toSet
    // customer keeps ITS latest, orders keeps its own; orders id=2 deleted
    assert(state == Set(
      ("customer", "1", "cust-v2"),
      ("orders", "1", "ord-v1")), s"state: $state")
  }

  test("JDBC sink rolls back the whole partition on mid-batch failure") {
    import graft.streaming.JdbcUpsert
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftrb;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().execute(
      "CREATE TABLE tgt (id BIGINT PRIMARY KEY, v DOUBLE NOT NULL)")
    finally c.close()
    // one good row then a poison row (NOT NULL violation) in the SAME
    // partition: the failed transaction must leave the target with
    // neither effect (close-without-rollback is driver-defined and may
    // commit the partial batch)
    val batch = Seq((1L, Some(10.0), "c", 1L), (2L, None, "c", 2L))
      .toDF("id", "v", "op", "ts_ms").repartition(1)
    val failed = intercept[org.apache.spark.SparkException] {
      JdbcUpsert.applyBatch(batch, url, "tgt", "id", Seq("v"))
    }
    assert(failed.getMessage != null)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "tgt").load().count()
    assert(back == 0L, "partial batch must be rolled back, not committed")
    // the transaction spans tables: good rows for rb_a, then a poison
    // row for rb_b, in ONE partition (a sorted shuffle partition writes
    // rb_a first) must leave neither table with any effect
    val c2 = java.sql.DriverManager.getConnection(url)
    try Seq("rb_a", "rb_b").foreach(t => c2.createStatement().execute(
      s"CREATE TABLE $t (id BIGINT PRIMARY KEY, v DOUBLE NOT NULL)"))
    finally c2.close()
    val routed = Seq(("rb_a", 1L, Some(10.0), "c", 1L),
      ("rb_a", 2L, Some(20.0), "c", 2L), ("rb_b", 3L, None, "c", 3L))
      .toDF("tbl", "id", "v", "op", "ts_ms")
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try intercept[org.apache.spark.SparkException] {
      JdbcUpsert.applyRouted(routed, col("tbl"), url, "id", "ts_ms", Seq("v"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", parts)
    for (t <- Seq("rb_a", "rb_b")) {
      val n = spark.read.format("jdbc")
        .option("url", url).option("dbtable", t).load().count()
      assert(n == 0L, s"$t kept $n rows of a failed cross-table transaction")
    }
  }

  test("JDBC sink resolves equal-timestamp changes the same under any partitioning") {
    import graft.streaming.JdbcUpsert
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftties;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().execute(
      "CREATE TABLE target (id BIGINT PRIMARY KEY, v DOUBLE)")
    finally c.close()
    // ties on ts_ms go to the greater op rank (c < u < d), then to the
    // greater value; a later ts_ms beats both
    val tied = Seq(
      (1L, 10.0, "c", 5L), (1L, 30.0, "u", 5L), (1L, 20.0, "u", 5L),
      (2L, 1.0, "c", 3L), (2L, 2.0, "u", 3L), (2L, 0.0, "d", 3L),
      (3L, 7.0, "c", 1L), (3L, 8.0, "c", 1L),
      (4L, 4.0, "u", 9L), (4L, 99.0, "d", 2L))
    def applied(batch: org.apache.spark.sql.DataFrame): Map[Long, Double] = {
      val d = java.sql.DriverManager.getConnection(url)
      try d.createStatement().execute("DELETE FROM target") finally d.close()
      JdbcUpsert.sink(url, "target", "id", "ts_ms", Seq("v"))(batch, 0L)
      spark.read.format("jdbc")
        .option("url", url).option("dbtable", "target").load()
        .select("id", "v").as[(Long, Double)].collect().toMap
    }
    val one = applied(tied.toDF("id", "v", "op", "ts_ms").repartition(1))
    val four = applied(tied.reverse.toDF("id", "v", "op", "ts_ms").repartition(4))
    assert(one == four, s"repartition(1): $one, reversed repartition(4): $four")
    assert(one == Map(1L -> 30.0, 3L -> 8.0, 4L -> 4.0), s"target: $one")
  }

  test("JDBC keyed-target sink applies APPEND/UPDATE/DELETE like the batch upsert") {
    import graft.streaming.JdbcUpsert
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        "CREATE TABLE target (id BIGINT PRIMARY KEY, v DOUBLE)")
    } finally conn.close()
    // pre-existing target row (id=7) + changelog: 1 c→u, 2 c→d, 3 c
    val c0 = java.sql.DriverManager.getConnection(url)
    try c0.createStatement().execute("INSERT INTO target VALUES (7, 70.0)")
    finally c0.close()
    val batch = Seq(
      (1L, 10.0, "c", 1L), (2L, 1.0, "c", 2L),
      (1L, 20.0, "u", 3L), (2L, 0.0, "d", 4L), (3L, 5.0, "c", 5L))
      .toDF("id", "v", "op", "ts_ms")
    JdbcUpsert.sink(url, "target", "id", "ts_ms", Seq("v"))(batch, 0L)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "target").load()
      .select("id", "v").as[(Long, Double)].collect().toMap
    assert(back == Map(1L -> 20.0, 3L -> 5.0, 7L -> 70.0),
      s"target after apply: $back")
    // idempotent re-apply (task retry): same terminal state
    JdbcUpsert.sink(url, "target", "id", "ts_ms", Seq("v"))(batch, 1L)
    val again = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "target").load()
      .select("id", "v").as[(Long, Double)].collect().toMap
    assert(again == back)
  }

  test("JDBC target dialects: URL templates, native upsert SQL, and fallback parity") {
    import graft.streaming.JdbcUpsert
    import graft.streaming.JdbcUpsert.TargetDialect
    // DSN-style resolution: name → dialect → URL (reference targets
    // arbitrary ODBC DSNs; Main.java:477-498)
    assert(TargetDialect.byName("postgresql")
      .url("pg.internal", 5432, "corpus") ==
      "jdbc:postgresql://pg.internal:5432/corpus")
    assert(TargetDialect.byName("sqlserver")
      .url("mssql", 1433, "corpus") ==
      "jdbc:sqlserver://mssql:1433;databaseName=corpus")
    // native upserts bind (key, values...) in the portable INSERT's
    // parameter order
    val pg = TargetDialect.postgresql.nativeUpsert.get("t", "id", Seq("v", "w"))
    assert(pg == "INSERT INTO t (id, v, w) VALUES (?, ?, ?) " +
      "ON CONFLICT (id) DO UPDATE SET v = EXCLUDED.v, w = EXCLUDED.w", pg)
    val my = TargetDialect.mysql.nativeUpsert.get("t", "id", Seq("v"))
    assert(my == "INSERT INTO t (id, v) VALUES (?, ?) " +
      "ON DUPLICATE KEY UPDATE v = VALUES(v)", my)
    // engines without a safe native statement use the proven fallback
    assert(TargetDialect.derby.nativeUpsert.isEmpty
      && TargetDialect.sqlserver.nativeUpsert.isEmpty)
    // e2e: the dialect-aware path against Derby (fallback branch) must
    // converge exactly like the dialect-less sink
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftdlct;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().execute(
      "CREATE TABLE target (id BIGINT PRIMARY KEY, v DOUBLE)")
    finally c.close()
    val batch = Seq((1L, 10.0, "c", 1L), (1L, 20.0, "u", 2L),
      (2L, 1.0, "c", 3L), (2L, 0.0, "d", 4L)).toDF("id", "v", "op", "ts_ms")
    JdbcUpsert.sink(url, "target", "id", "ts_ms", Seq("v"),
      Some(TargetDialect.derby))(batch, 0L)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "target").load()
      .select("id", "v").as[(Long, Double)].collect().toMap
    assert(back == Map(1L -> 20.0), s"target after apply: $back")
  }

  test("JDBC sink survives a streaming restart from checkpoint without duplicate effects") {
    import graft.streaming.JdbcUpsert
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val url = "jdbc:derby:memory:graftdb_ckpt;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().execute(
      "CREATE TABLE target (id BIGINT PRIMARY KEY, v DOUBLE)")
    finally c.close()
    implicit val sql = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val mem = MemoryStream[(Long, Double, String, Long)]
    def start() = mem.toDF().toDF("id", "v", "op", "ts_ms")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(JdbcUpsert.sink(url, "target", "id", "ts_ms", Seq("v")))
      .start()
    val q1 = start()
    mem.addData((1L, 10.0, "c", 1L), (2L, 1.0, "c", 2L))
    q1.processAllAvailable()
    q1.stop()
    // restart from the checkpoint; only NEW data may apply
    val q2 = start()
    mem.addData((1L, 20.0, "u", 3L), (2L, 0.0, "d", 4L), (3L, 5.0, "c", 5L))
    q2.processAllAvailable()
    q2.stop()
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "target").load()
      .select("id", "v").as[(Long, Double)].collect().toMap
    assert(back == Map(1L -> 20.0, 3L -> 5.0), s"target after restart: $back")
  }

  test("snapshot apply: last op wins, trailing delete drops the key") {
    // hand-built changelog: u1 insert→update, u2 insert→delete
    val log = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, 10.0, "signup", "c"),
      (2L, Timestamp.valueOf("2024-01-01 01:00:00"), 1L, 20.0, "purchase", "u"),
      (3L, Timestamp.valueOf("2024-01-01 00:30:00"), 2L, 5.0, "signup", "c"),
      (4L, Timestamp.valueOf("2024-01-01 02:00:00"), 2L, 0.0, "error", "d"))
      .toDF("event_id", "ts", "user_id", "value", "event_type", "op")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
    val snap = log.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).filter(col("op") =!= "d")
      .select("user_id", "value")
    val res = snap.as[(Long, Double)].collect().toMap
    assert(res == Map(1L -> 20.0))
  }
}
