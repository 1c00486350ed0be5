package graft

import org.apache.spark.sql.functions._

/** r13 optimization-round guards: the strategy-injected layout and
  * checkpoint paths must be result-identical to the defaults, and the
  * reportSort tail may only ever sit on dimension-bounded frames. */
class R13OpsSpec extends SparkSpec {
  val sf001 = "/root/testdata/sf0.001"

  test("layout modes agree: the table-mode bucketed layout returns " +
      "the same rows as the default memo") {
    val memoRows = graft.dedup.Dedup.pairs09(spark, sf001)
      .collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.graft.layout.mode", "table")
    try {
      val t = graft.dedup.Dedup.pairs09(spark, sf001)
      assert(t.queryExecution.analyzed.toString.contains("dedup_pairs09"),
        "table mode must read the named catalog layout")
      assert(t.collect().map(_.toString).sorted.toSeq == memoRows,
        "table-mode layout rows must equal the memo-mode rows")
    } finally spark.conf.unset("spark.graft.layout.mode")
  }

  test("checkpoint strategies agree: reliable (storage-backed) cut " +
      "returns the same rows as the default local cut") {
    import spark.implicits._
    val docs = (1L to 40L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 1L))
      .toDF("d1", "d2")
    val loops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "components" -> (() => graft.dedup.Dedup.components(docs, pairs)),
      "componentsStar" -> (() => graft.dedup.Dedup.componentsStar(docs, pairs)))
    val base = loops.map { case (_, run) =>
      run().collect().map(_.toString).sorted.toSeq }
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try loops.zip(base).foreach { case ((name, run), want) =>
      assert(run().collect().map(_.toString).sorted.toSeq == want,
        s"reliable checkpoints must not change $name labels")
    } finally spark.conf.unset("spark.graft.checkpoint.reliable")
  }

  test("reliable cuts with no checkpoint dir fail fast, naming the " +
      "setting") {
    val sc = spark.sparkContext
    val saved = sc.getCheckpointDir
    sc.setCheckpointDir(null)
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val e = intercept[IllegalArgumentException](
        Tables.cut(spark.range(3).toDF(), eager = false))
      assert(e.getMessage.contains("spark.graft.checkpoint.reliable"),
        e.getMessage)
    } finally {
      spark.conf.unset("spark.graft.checkpoint.reliable")
      saved.foreach(sc.setCheckpointDir)
    }
  }

  test("reportSort sits only on dimension-bounded frames: every key " +
      "whose plan carries the coalesce(1) tail stays small at sf0.001") {
    // the r12 ADVICE trap: reportSort(...).limit(n) satisfied the
    // SF-invariance check through the limit while the coalesce(1)
    // serialized a corpus-proportional sort. Guard: any key whose
    // LOGICAL plan contains the reportSort marker (Repartition to 1
    // without shuffle) must produce a dimension-bounded output — and
    // must not ALSO carry a limit above a corpus-proportional sort
    // (the revert in r13 removed all six such tails).
    val cap = 4096L
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val df =
          try fn(spark, sf001)
          catch { case e: Throwable => fail(s"$name failed to plan: $e") }
        val hasReportSort = df.queryExecution.analyzed.collect {
          case r: org.apache.spark.sql.catalyst.plans.logical.Repartition
              if r.numPartitions == 1 && !r.shuffle => r
        }.nonEmpty
        if (!hasReportSort) None
        else {
          val n = df.count()
          if (n > cap) Some(s"$name: $n rows under a coalesce(1) tail")
          else None
        }
    }
    assert(offenders.isEmpty,
      s"corpus-proportional frames under reportSort:\n" +
        offenders.mkString("\n"))
  }
}
