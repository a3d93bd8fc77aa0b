package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computable contracts of the maintained order-activity store:
  * signed (customer, day) count+cents deltas for insert / reprice /
  * cancellation, delete-safe recency via day cells, per-batchId
  * idempotence, and fold. The end-to-end CDC arrival path incl. the
  * registered-key parity is driver-pinned by `q_gate_store_rfm`. */
class RfmStoreSpec extends AnyFunSuite {
  import SparkTestSession._
  import streaming.{RfmStore, SnapshotStore}

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_rfm").toString

  private def day(s: String): java.sql.Date = java.sql.Date.valueOf(s)

  private def change(rows: (Long, String, java.lang.Long, java.lang.Long,
      java.sql.Date, java.sql.Date, java.lang.Double, java.lang.Double)*) = {
    import spark.implicits._
    rows.toDF("o_orderkey", "change_type", "old_o_custkey", "new_o_custkey",
      "old_o_orderdate", "new_o_orderdate",
      "old_o_totalprice", "new_o_totalprice")
  }

  private def stats(dir: String): Map[Long, (Long, Long, String)] =
    RfmStore.customerStats(spark, dir).collect().map { r =>
      r.getLong(0) -> (r.getAs[Long]("freq"), r.getAs[Long]("cents"),
        r.getAs[java.sql.Date]("last_o").toString)
    }.toMap

  test("insert/reprice/cancel deltas move freq/cents; recency is delete-safe") {
    val dir = freshDir()
    // customer 7: orders on day1 (10.00) and day2 (20.00); customer 8:
    // one order on day1 (5.00)
    RfmStore.ingestBatch(spark, dir, change(
      (1L, "insert", null, 7L, null, day("2024-03-01"), null, 10.0),
      (2L, "insert", null, 7L, null, day("2024-03-02"), null, 20.0),
      (3L, "insert", null, 8L, null, day("2024-03-01"), null, 5.0)), 0L)
    assert(stats(dir) == Map(
      7L -> (2L, 3000L, "2024-03-02"),
      8L -> (1L, 500L, "2024-03-01")))
    // reprice order 1: 10.00 -> 4.00 — freq unchanged, cents -600
    val rep = change(
      (1L, "update", 7L, 7L, day("2024-03-01"), day("2024-03-01"), 10.0, 4.0))
    RfmStore.ingestBatch(spark, dir, rep, 1L)
    assert(stats(dir)(7L) == (2L, 2400L, "2024-03-02"))
    // at-least-once replay of ver 1 — no-op
    RfmStore.ingestBatch(spark, dir, rep, 1L)
    assert(stats(dir)(7L) == (2L, 2400L, "2024-03-02"))
    // cancel order 2 (the LATEST order): recency must FALL BACK to
    // day1 — the day-celled artifact's whole reason to exist (a bare
    // per-customer max could never retreat)
    RfmStore.ingestBatch(spark, dir, change(
      (2L, "delete", 7L, null, day("2024-03-02"), null, 20.0, null)), 2L)
    assert(stats(dir)(7L) == (1L, 400L, "2024-03-01"))
    // fold: served stats unchanged, version rows reclaimed
    val before = stats(dir)
    val raw = SnapshotStore.read(spark, dir).count()
    RfmStore.fold(spark, dir)
    assert(SnapshotStore.read(spark, dir).count() < raw)
    assert(stats(dir) == before)
  }

  test("an update that moves no cell commits no version") {
    val dir = freshDir()
    RfmStore.ingestBatch(spark, dir, change(
      (1L, "insert", null, 7L, null, day("2024-03-01"), null, 10.0)), 0L)
    val v0 = SnapshotStore.currentManifest(spark, dir).map(_.version)
    // same customer, day and price on both images: the net delta is
    // empty, and merge commits nothing for it
    RfmStore.ingestBatch(spark, dir, change(
      (1L, "update", 7L, 7L, day("2024-03-01"), day("2024-03-01"),
        10.0, 10.0)), 1L)
    assert(SnapshotStore.currentManifest(spark, dir).map(_.version) == v0)
    assert(stats(dir) == Map(7L -> (1L, 1000L, "2024-03-01")))
  }

  test("a customer-moving update nets across customers") {
    val dir = freshDir()
    RfmStore.ingestBatch(spark, dir, change(
      (1L, "insert", null, 7L, null, day("2024-03-01"), null, 10.0)), 0L)
    // the order is re-attributed to customer 9 (merged account)
    RfmStore.ingestBatch(spark, dir, change(
      (1L, "update", 7L, 9L, day("2024-03-01"), day("2024-03-01"),
        10.0, 10.0)), 1L)
    assert(stats(dir) == Map(9L -> (1L, 1000L, "2024-03-01")))
  }

  test("cohort LTV from cells: cancellation re-cohorts; seam == per-order") {
    // round-18 seam (q_gate_store_ltv's algebra, hand-computable here):
    // customer 7 founds in March (one order), buys again in April;
    // customer 8 founds in April. Cancelling 7's ONLY March order must
    // RE-COHORT 7 into April — cohort month = month of min LIVE day.
    val dir = freshDir()
    RfmStore.ingestBatch(spark, dir, change(
      (1L, "insert", null, 7L, null, day("2024-03-05"), null, 10.0),
      (2L, "insert", null, 7L, null, day("2024-04-09"), null, 20.0),
      (3L, "insert", null, 8L, null, day("2024-04-20"), null, 5.0)), 0L)
    def ltv(): Seq[(String, Long, Long, Long, Double)] =
      RfmStore.cohortLtv(spark, dir).collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getAs[Double]("revenue"))).toSeq
    assert(ltv() == Seq(
      ("2024-03", 0L, 1L, 1L, 10.0),  // 7 founds March
      ("2024-03", 1L, 1L, 1L, 20.0),  // 7 active in April (offset 1)
      ("2024-04", 0L, 1L, 1L, 5.0)))  // 8 founds April
    // the seam yields the IDENTICAL frame from per-order rows (the live
    // key's input shape) — the day-level pre-aggregation commutes
    import spark.implicits._
    val perOrder = Seq((7L, day("2024-03-05"), 1000L),
      (7L, day("2024-04-09"), 2000L), (8L, day("2024-04-20"), 500L))
      .toDF("o_custkey", "d", "cents")
    assert(RfmStore.cohortLtv(spark, dir).collect().map(_.toString).toSeq ==
      queries.Commerce.cohortLtvFrom(perOrder).collect().map(_.toString).toSeq)
    // cancel order 1 — customer 7's entire March vanishes: re-cohorted
    RfmStore.ingestBatch(spark, dir, change(
      (1L, "delete", 7L, null, day("2024-03-05"), null, 10.0, null)), 1L)
    assert(ltv() == Seq(
      ("2024-04", 0L, 2L, 2L, 25.0)))  // both found April now
  }

  test("job pin: a served rfm collect runs 2 Spark jobs") {
    // a job pin ([[JobCount]]), as in ActivityStoreSpec
    val dir = freshDir()
    RfmStore.ingestBatch(spark, dir, change(
      (1L, "insert", null, 7L, null, day("2024-03-01"), null, 10.0),
      (2L, "insert", null, 7L, null, day("2024-03-02"), null, 20.0),
      (3L, "insert", null, 8L, null, day("2024-03-01"), null, 5.0)), 0L)
    val (rows, jobs) = JobCount(spark)(RfmStore.rfm(spark, dir).collect())
    assert(rows.nonEmpty)
    // the log reads as one partition, so nothing shuffles: the
    // broadcast quartile row, then the result
    assert(jobs == 2, s"rfm ran $jobs jobs")
  }
}
