package graft.perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One generated table: rows in driver memory under the schema the
  * engine's parquet fixtures use (long keys, doubles, naive timestamps). */
final case class Tab(name: String, schema: StructType, rows: IndexedSeq[Row]) {
  def df(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
}

/** Seeded generator of the engine's fixture tables (the TPC-H-shaped
  * orders and lineitem, and the behavioral `events` table) with their
  * fixture schemas. Everything is a pure function of (seed, size): the
  * same arguments give the same rows, so inputs are regenerated instead
  * of read from outside the checkout. Sizes are in orders; the keys they
  * reference keep sf-style ratios to it (customers 1:10, parts 2:15,
  * suppliers 1:150, ~4 lines per order). */
object Gen {

  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def pick[A](r: SplittableRandom, xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))

  private val Day0 = LocalDateTime.of(1992, 1, 1, 0, 0)
  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  // funnel steps dominate, as in the engine's behavioral fixtures
  private val EventTypes = IndexedSeq("view", "view", "view", "click", "click",
    "purchase", "signup", "error")

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  /** The fact tables of the star schema; the dimensions they reference
    * (customers, parts, suppliers) are key ranges here. */
  final case class Star(orders: Tab, lineitem: Tab)

  def star(seed: Long, nOrders: Int): Star = {
    val nCust = math.max(nOrders / 10, 50)
    val nPart = math.max(nOrders * 2 / 15, 50)
    val nSupp = math.max(nOrders / 150, 10)
    val rp = rng(seed, "part")
    val prices = Array.fill(nPart + 1)(money(rp, 900.0, 2100.0))

    val ro = rng(seed, "orders")
    val orderRows = IndexedSeq.newBuilder[Row]
    val lineRows = IndexedSeq.newBuilder[Row]
    (1 to nOrders).foreach { k =>
      val date = Day0.plusDays(ro.nextInt(2400))
      val nLines = 1 + ro.nextInt(7)
      var total = 0.0
      (1 to nLines).foreach { ln =>
        val pk = 1 + ro.nextInt(nPart)
        val qty = (1 + ro.nextInt(50)).toDouble
        val ext = math.round(qty * prices(pk) * 100) / 100.0
        total += ext
        lineRows += Row(k.toLong, pk.toLong, (1 + ro.nextInt(nSupp)).toLong, ln, qty, ext,
          ro.nextInt(11) / 100.0, ro.nextInt(9) / 100.0, pick(ro, IndexedSeq("R", "A", "N")),
          pick(ro, IndexedSeq("O", "F")), date.plusDays(1 + ro.nextInt(121)))
      }
      orderRows += Row(k.toLong, (1 + ro.nextInt(nCust)).toLong, pick(ro, IndexedSeq("F", "O", "P")),
        math.round(total * 100) / 100.0, date, pick(ro, Priorities))
    }
    val orders = Tab("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))), orderRows.result())
    val lineitem = Tab("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))), lineRows.result())
    Star(orders, lineitem)
  }

  /** The behavioral event log: ~5 minute gaps from 2024-01-01, users
    * 1..nUsers with exactly `perUser` events each, interleaved in seeded
    * order (so erasing a set of users removes the same number of events
    * for every seed). */
  def events(seed: Long, nUsers: Int, perUser: Int): Tab = {
    val r = rng(seed, "events")
    val users = shuffle(r, (1 to nUsers).flatMap(u => Seq.fill(perUser)(u.toLong)))
    var ts = LocalDateTime.of(2024, 1, 1, 0, 0)
    Tab("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType))),
      users.indices.map { i =>
        ts = ts.plusSeconds(1 + r.nextInt(600))
        Row((i + 1).toLong, ts, users(i), pick(r, EventTypes), money(r, 0, 500))
      })
  }

  /** Seeded Fisher–Yates shuffle. */
  def shuffle[A](r: SplittableRandom, xs: Seq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** Text form of one value as an upload file carries it: doubles always
    * with a decimal point (so inference keeps them REAL), timestamps as
    * `yyyy-MM-dd HH:mm:ss`. */
  def text(v: Any): String = v match {
    case d: Double => java.math.BigDecimal.valueOf(d).setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
    case t: LocalDateTime => t.toString.replace('T', ' ') + (if (t.getSecond == 0) ":00" else "")
    case other => String.valueOf(other)
  }

  def csvLine(r: Row): String = r.toSeq.map(text).mkString(",")

  def jsonLine(schema: StructType, r: Row): String =
    schema.fields.zip(r.toSeq).map { case (fl, v) =>
      val body = fl.dataType match {
        case StringType | TimestampNTZType => "\"" + text(v) + "\""
        case _ => text(v)
      }
      "\"" + fl.name + "\": " + body
    }.mkString("{", ", ", "}")
}
