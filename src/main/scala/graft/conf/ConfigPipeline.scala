package graft.conf

import java.io.FileInputStream
import java.util.Properties

import org.apache.spark.sql.{Column, DataFrame, ForeachWriter, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import graft.classify.{DataClassLibrary, XmlCompat}
import graft.mask.RuleEngine
import graft.streaming.{CdcStream, JdbcUpsert}

/** The reference's `conf/config.properties` wiring (reference:
  * Main.java:102-160 loads the file and assembles the whole
  * parse→classify→mask→route→sink run from it). The SAME property
  * names drive this Spark pipeline:
  *
  *   - `table.exclude.list`       — comma-separated table-name regexes
  *     dropped from replication (the reference excludes `.*_masked` so
  *     its own targets don't re-enter the feed)
  *   - `targetNamePostfix`        — appended to each target table name
  *     (missing → "" with the reference's same-name semantics,
  *     Main.java:129-135)
  *   - `dataTarget`               — file-target path (`test.tsv`)
  *   - `dataTargetSeparator`      — field separator, default tab
  *     (Main.java:118-124)
  *   - `dataTargetProcessType`    — `record` (one write per change,
  *     Main.java:380-381) vs batch; missing → the reference's `ODBC`
  *     default (Main.java:151-156)
  *   - `dataTargetSchema`         — optional target schema qualifier
  *   - `DSN`                      — keyed JDBC target. The reference
  *     resolves the name through the system ODBC config; Spark-side
  *     the mapping is a `DSN.<name>.url` property carrying a JDBC url
  *   - `dataClassLibraryPath` / `rulesLibraryPath` — the XML libraries
  *     ([[XmlCompat]] parses the reference's own formats)
  *   - `structureChangeEventLogPath` — where schema-drift records go
  *     (default `schema_change_events.log`, Main.java:112-113)
  *   - `offset.storage.file.filename` — the reference's Debezium
  *     resume-offset store (`offsets.dat`,
  *     `offset.storage=FileOffsetBackingStore`). Spark's native
  *     equivalent is the streaming CHECKPOINT: when set, the sink gets
  *     `checkpointLocation = <value>.checkpoint`, so a restarted
  *     pipeline resumes from the last committed offsets instead of
  *     re-reading the source — same durability contract, engine-native
  *     mechanism
  */
final case class GraftConfig(
    tableExcludeList: Seq[String],
    targetNamePostfix: String,
    dataTarget: Option[String],
    dataTargetSeparator: String,
    dataTargetProcessType: String,
    dataTargetSchema: Option[String],
    dsn: Option[String],
    dsnUrl: Option[String],
    dataClassLibraryPath: Option[String],
    rulesLibraryPath: Option[String],
    structureChangeLogPath: String,
    offsetStoragePath: Option[String] = None) {

  def targetName(table: Column): Column = concat(table, lit(targetNamePostfix))

  /** Debezium-style exclusion: full-string regex match on the table
    * name (anchored — `matches()`, not find-anywhere). */
  def excluded(table: Column): Column = tableExcludeList
    .map(r => table.rlike("^(?:" + r + ")$"))
    .foldLeft(lit(false))(_ || _)
}

object GraftConfig {

  def load(path: String): GraftConfig = {
    val p = new Properties()
    val in = new FileInputStream(path)
    try p.load(in) finally in.close()
    fromProperties(p)
  }

  def fromProperties(p: Properties): GraftConfig = {
    def opt(k: String) = Option(p.getProperty(k)).map(_.trim).filter(_.nonEmpty)
    val dsn = opt("DSN")
    GraftConfig(
      tableExcludeList = opt("table.exclude.list").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
      targetNamePostfix = opt("targetNamePostfix").getOrElse(""),
      dataTarget = opt("dataTarget"),
      // NOT trimmed (unlike the other keys): a space or padded
      // separator is a legitimate value (Properties escapes it as
      // `\ `/` `). Properties.load already unescapes \t; the
      // extra replace covers configs handed in programmatically with
      // a literal backslash-t
      dataTargetSeparator = Option(p.getProperty("dataTargetSeparator"))
        .filter(_.nonEmpty).map(_.replace("\\t", "\t")).getOrElse("\t"),
      dataTargetProcessType = opt("dataTargetProcessType").getOrElse("ODBC"),
      dataTargetSchema = opt("dataTargetSchema"),
      dsn = dsn,
      dsnUrl = dsn.flatMap(d => opt(s"DSN.$d.url")),
      dataClassLibraryPath = opt("dataClassLibraryPath"),
      rulesLibraryPath = opt("rulesLibraryPath"),
      structureChangeLogPath = opt("structureChangeEventLogPath")
        .getOrElse("schema_change_events.log"),
      offsetStoragePath = opt("offset.storage.file.filename"))
  }
}

/** Assembles the end-to-end masked-replication flow from a
  * [[GraftConfig]] alone — the drop-in parity story: point it at a
  * properties file with the reference's names and the whole pipeline
  * exists. Every stage is an already-verified piece ([[CdcStream]],
  * [[RuleEngine]], [[XmlCompat]], [[JdbcUpsert]]); this object only
  * wires them. The flow is one declarative plan, identical for batch
  * frames and streaming frames. */
object ConfigPipeline {

  /** Rule + data-class libraries named by the config, in the
    * reference's own XML formats. */
  def library(cfg: GraftConfig,
      loadSet: String => Option[Seq[String]] = _ => None): DataClassLibrary = {
    val rules = cfg.rulesLibraryPath
      .map(XmlCompat.parseRules).getOrElse(Map.empty)
    val classes = cfg.dataClassLibraryPath
      .map(XmlCompat.parseDataClasses(_, loadSet)).getOrElse(Seq.empty)
    DataClassLibrary(classes, rules)
  }

  /** parse → exclude → classify+mask → route: envelope JSON in, masked
    * change rows out, with `target_table` = source table + postfix.
    * Metadata columns (op/ts_ms/table) match no data class and pass
    * through for the sink to route on. */
  def assemble(envelopeJson: DataFrame, rowSchema: StructType,
      cfg: GraftConfig, lib: DataClassLibrary,
      setResolver: String => Seq[String] = _ => Seq.empty): DataFrame = {
    val parsed = CdcStream.changes(envelopeJson, rowSchema)
      .filter(!cfg.excluded(col("table")))
    RuleEngine.maskTable(parsed, lib, setResolver)
      .withColumn("target_table", cfg.targetName(col("table")))
  }

  /** Batch-mode file target: delimited files under `dataTarget`,
    * one directory per target table (Hive-style `target_table=`
    * partitions — the per-table file split the reference's per-table
    * scripts produce). */
  def writeBatch(df: DataFrame, cfg: GraftConfig): Unit = {
    val target = cfg.dataTarget.getOrElse(
      throw new IllegalArgumentException("dataTarget not configured"))
    df.write.mode("append").partitionBy("target_table")
      .option("sep", cfg.dataTargetSeparator)
      .csv(target)
  }

  /** Record-mode sink (`dataTargetProcessType=record`): one delimited
    * LINE appended per change record as it arrives — the reference's
    * per-record script invocation (Main.java:380-381) as a streaming
    * ForeachWriter. Files are per (partition, epoch), so concurrent
    * tasks never interleave writes. */
  final class RecordWriter(dir: String, sep: String)
      extends ForeachWriter[Row] {
    // BufferedWriter, NOT PrintWriter: PrintWriter swallows IO errors
    // into a flag, which would let a failed write commit as a
    // successful epoch — a sink claiming exactly-once must FAIL the
    // task so Spark retries the epoch
    @transient private var out: java.io.BufferedWriter = _
    def open(partitionId: Long, epochId: Long): Boolean = {
      new java.io.File(dir).mkdirs()
      // truncate, not append: the file is addressed by (partition,
      // epoch), so a retried epoch REWRITES its file instead of
      // duplicating records — idempotent replay, the ForeachWriter
      // exactly-once contract
      out = new java.io.BufferedWriter(new java.io.FileWriter(
        new java.io.File(dir, s"part-$partitionId-$epochId.rec"), false))
      true
    }
    def process(row: Row): Unit = {
      out.write(Range(0, row.length).map(i =>
        Option(row.get(i)).map(_.toString).getOrElse("")).mkString(sep))
      out.newLine()
    }
    def close(errorOrNull: Throwable): Unit = if (out != null) out.close()
  }

  /** Streaming sink dispatch on `dataTargetProcessType`: `record` →
    * per-record ForeachWriter; anything else → micro-batch delimited
    * writes into an `epoch=<id>` directory with overwrite, so a
    * replayed micro-batch REWRITES its own directory instead of
    * appending duplicates. (The JDBC/DSN target goes through
    * [[applyJdbc]] in a foreachBatch instead — it needs a key.) */
  def sinkStream(df: DataFrame, cfg: GraftConfig): DataStreamWriter[Row] = {
    val target = cfg.dataTarget.getOrElse(
      throw new IllegalArgumentException("dataTarget not configured"))
    val w =
      if (cfg.dataTargetProcessType.equalsIgnoreCase("record"))
        df.writeStream.foreach(new RecordWriter(target, cfg.dataTargetSeparator))
      else
        df.writeStream.foreachBatch { (b: DataFrame, epochId: Long) =>
          b.write.mode("overwrite").partitionBy("target_table")
            .option("sep", cfg.dataTargetSeparator)
            .csv(s"$target/epoch=$epochId")
        }
    // the configured Debezium offset store maps to Spark's checkpoint:
    // restarts resume from committed offsets (ConfSpec restart test)
    cfg.offsetStoragePath.fold(w)(p =>
      w.option("checkpointLocation", s"$p.checkpoint"))
  }

  /** DSN target: keyed upsert through the configured `DSN.<name>.url`
    * JDBC url, routed per row by `target_table` (already postfixed),
    * optionally schema-qualified by `dataTargetSchema`. One
    * [[JdbcUpsert.applyRouted]] call: a single shuffle reduces the batch
    * to the terminal change per (target table, key) for every table at
    * once, and each partition applies its rows in one transaction, so
    * the micro-batch costs the same jobs however many tables it
    * touches. A small batch coalesces to one partition and therefore
    * one connection. */
  def applyJdbc(batch: DataFrame, cfg: GraftConfig, keyCol: String,
      orderCol: String, valueCols: Seq[String]): Unit = {
    val dsn = cfg.dsn.getOrElse(
      throw new IllegalArgumentException("DSN not configured"))
    val url = cfg.dsnUrl.getOrElse(throw new IllegalArgumentException(
      s"DSN '$dsn' has no DSN.<name>.url mapping"))
    val table = cfg.dataTargetSchema.fold(col("target_table"))(s =>
      concat(lit(s"$s."), col("target_table")))
    JdbcUpsert.applyRouted(batch, table, url, keyCol, orderCol, valueCols)
  }
}
