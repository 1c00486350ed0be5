package perfbench

import scala.collection.mutable

import org.apache.spark.sql.types._

/** Seeded Debezium-shaped change events, written as plain JSON text by
  * the benchmark itself (not by graft's `Envelope.wrap`), so the
  * program under test receives only generated inputs.
  *
  * Temporal fields are sent as ISO timestamps. graft's `assemble` does
  * no Debezium temporal repair, so a `*date` field sent as an epoch
  * BIGINT fails analysis under `date_shift`; that failure is
  * fail-closed and correct, and the benchmark does not provoke it. */
object Envelopes {
  val customerFields: Seq[StructField] = Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_email", StringType), StructField("c_phone", StringType),
    StructField("c_zip", StringType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType))
  val orderFields: Seq[StructField] = Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))

  /** Row schema of the live feed: one struct covering both tables. */
  val liveSchema: StructType = StructType(customerFields ++ orderFields)
  val ordersSchema: StructType = StructType(orderFields)

  /** Columns whose masking rule never returns its input (hash, digest,
    * redaction, digit permutation): a value equal to its source means
    * masking failed open. Blur and date shift may legitimately return
    * the source value (a zero offset) and are checked by bounds. */
  val neverEqualColumns: Seq[String] = Seq("c_name", "c_email", "c_phone", "c_zip")

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val statuses = Array("F", "O", "P")
  private val first = Array("Ada", "Alan", "Grace", "Edsger", "Barbara", "Donald",
    "Frances", "John", "Margaret", "Niklaus", "Radia", "Tony")
  private val last = Array("Lovelace", "Turing", "Hopper", "Dijkstra", "Liskov",
    "Knuth", "Allen", "Backus", "Hamilton", "Wirth", "Perlman", "Hoare")
  private val epochDay0 = java.time.LocalDate.of(1995, 1, 1)

  /** One change: the table, op, key, and the row image it leaves. */
  final case class Change(table: String, op: String, key: Long,
      before: Option[Map[String, Any]], after: Option[Map[String, Any]])

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => Json.str(s)
    case d: Double => java.math.BigDecimal.valueOf(d).toPlainString
    case x => x.toString
  }

  private def jsonRow(r: Option[Map[String, Any]], fields: Seq[StructField]): String =
    r.fold("null")(m => fields.filter(f => m.contains(f.name))
      .map(f => s"${Json.str(f.name)}:${jsonValue(m(f.name))}").mkString("{", ",", "}"))

  def toJson(c: Change, tsMs: Long): String = {
    val fields = liveSchema.fields.toSeq
    s"""{"payload":{"before":${jsonRow(c.before, fields)},""" +
      s""""after":${jsonRow(c.after, fields)},""" +
      s""""source":{"db":"shop","table":${Json.str(c.table)}},""" +
      s""""op":"${c.op}","ts_ms":$tsMs}}"""
  }

  /** Live keys of one table, with O(1) random pick and removal. */
  private final class Keys {
    val arr = mutable.ArrayBuffer.empty[Long]
    val pos = mutable.HashMap.empty[Long, Int]
    val rows = mutable.HashMap.empty[Long, Map[String, Any]]
    var next = 1L
    def add(k: Long, r: Map[String, Any]): Unit = { pos(k) = arr.size; arr += k; rows(k) = r }
    def remove(k: Long): Unit = {
      val i = pos.remove(k).get
      val lastKey = arr.last
      arr(i) = lastKey; if (lastKey != k) pos(lastKey) = i
      arr.remove(arr.size - 1); rows.remove(k)
    }
  }

  /** Seeded change generator. The seed draws the op mix and the share
    * of changes to the excluded `customer_masked` table, then every
    * key choice and value. */
  final class Gen(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    val pCreate: Double = 0.30 + 0.10 * rnd.nextDouble()
    val pDelete: Double = 0.08 + 0.06 * rnd.nextDouble()
    val excludedShare: Double = 0.04 + 0.04 * rnd.nextDouble()
    private val tables = mutable.HashMap.empty[String, Keys]
    private def keys(t: String) = tables.getOrElseUpdate(t, new Keys)

    private def pick[T](a: Array[T]): T = a(rnd.nextInt(a.length))
    private def money(lo: Double, hi: Double): Double =
      math.round((lo + (hi - lo) * rnd.nextDouble()) * 100) / 100.0

    private def customer(k: Long, version: Int): Map[String, Any] = Map(
      "c_custkey" -> k,
      "c_name" -> s"${pick(first)} ${pick(last)}",
      "c_email" -> s"user$k.$version@example.com",
      "c_phone" -> f"555-${rnd.nextInt(1000)}%03d-${rnd.nextInt(10000)}%04d",
      "c_zip" -> f"${rnd.nextInt(100000)}%05d",
      "c_acctbal" -> money(-999.99, 9999.99),
      "c_mktsegment" -> pick(segments))

    private def order(k: Long): Map[String, Any] = Map(
      "o_orderkey" -> k,
      "o_custkey" -> (1L + rnd.nextInt(50000)),
      "o_orderstatus" -> pick(statuses),
      "o_totalprice" -> money(1000.0, 500000.0),
      "o_orderdate" -> (epochDay0.plusDays(rnd.nextInt(2400).toLong).toString + "T00:00:00"),
      "o_orderpriority" -> pick(priorities))

    private def row(table: String, k: Long, version: Int) =
      if (table == "orders") order(k) else customer(k, version)

    /** One change to `table` with the given op; keys in `busy` are not
      * touched again (one change per key per landed file). */
    def change(table: String, op0: String, busy: mutable.Set[(String, Long)]): Change = {
      val ks = keys(table)
      val existing = if (op0 == "c" || ks.arr.isEmpty) None else {
        val k = ks.arr(rnd.nextInt(ks.arr.size))
        if (busy.contains((table, k))) None else Some(k)
      }
      val c = existing match {
        case None =>
          val k = ks.next; ks.next += 1
          val r = row(table, k, 0); ks.add(k, r)
          Change(table, "c", k, None, Some(r))
        case Some(k) if op0 == "d" =>
          val r = ks.rows(k); ks.remove(k)
          Change(table, "d", k, Some(r), None)
        case Some(k) =>
          val r0 = ks.rows(k); val r = row(table, k, rnd.nextInt(1000000))
          ks.rows(k) = r
          Change(table, "u", k, Some(r0), Some(r))
      }
      busy += ((table, c.key))
      c
    }

    /** A mixed change for the live feed. */
    def liveChange(busy: mutable.Set[(String, Long)]): Change = {
      val table =
        if (rnd.nextDouble() < excludedShare) "customer_masked"
        else if (rnd.nextBoolean()) "customer" else "orders"
      val u = rnd.nextDouble()
      val op = if (u < pCreate) "c" else if (u < pCreate + pDelete) "d" else "u"
      change(table, op, busy)
    }

    /** Final row image per live key of a table (deleted keys absent). */
    def state(table: String): Map[Long, Map[String, Any]] = keys(table).rows.toMap
  }
}
