package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Day-2 maintenance for the COMMERCE axis (round 17 — the activity
  * store's sibling over the ORDER log): `q_rfm`'s per-customer
  * recency/frequency/monetary frame re-derived per run costs one order-
  * log scan + a customer shuffle; the log is the data-sized axis. The
  * maintained artifact is the (customer, order-day) aggregate:
  *
  * ARTIFACT: (o_custkey, d, ver, cnt, cents) — per customer and order
  * date, signed ADDITIVE deltas under the CDC version: an order insert
  * contributes (+1, +price-cents) to its (customer, day) cell, a
  * cancellation (−1, −cents), a repricing/update −old +new (which also
  * nets a move when the update changes the customer or the date). All
  * three RFM inputs then derive artifact-side:
  *   - frequency = Σ cnt per customer,
  *   - monetary  = Σ cents per customer (exact integer cents — the
  *     registry's money discipline; Long is ample here because the live
  *     key's own sum is a Long with the same bound),
  *   - recency   = max(d) over cells with POSITIVE net count — the
  *     reason the artifact keys by day: max is not delete-additive on
  *     its own, but "max over days still alive" is, so a cancellation
  *     wave moves recency correctly with no rebuild (the contrast with
  *     the sketch store's rebuild discipline).
  *
  * Same log-structured (key, ver) exactly-once design as the other
  * maintained artifacts (shared [[SignedCells]] netting, watermark,
  * replay floor, multi-measure fold with cnt as the liveness gauge).
  *
  * Serving ([[rfm]]): one artifact-sized net-sum to the per-customer
  * frame, then the SHARED [[graft.queries.Commerce.rfmFrom]] scoring
  * seam — store-served RFM == the registered key EXACTLY (gate-pinned).
  * The order log is never read. A log no larger than
  * [[SignedCells.onePartitionMaxBytes]] (256 KB) is read
  * as one partition ([[SignedCells.readLog]]), so the net-sum and the
  * scoring plan no exchange: a served RFM collect is TWO Spark jobs
  * (the broadcast quartile row, then the result); a larger log keeps
  * the exchange-based plan.
  */
object RfmStore {

  private val Cells = SignedCells(Seq("o_custkey", "d"), Seq("cnt", "cents"))

  private def cells(side: DataFrame, prefix: String, sign: Int): DataFrame =
    side.groupBy(
      col(s"${prefix}_o_custkey").as("o_custkey"),
      col(s"${prefix}_o_orderdate").as("d"))
      .agg((count(lit(1)) * sign).as("cnt"),
        (sum(round(col(s"${prefix}_o_totalprice") * 100, 0).cast("bigint"))
          * sign).as("cents"))

  /** One CDC batch of order changes as signed (customer, day) deltas
    * under version `batchId`. The orders table's snapshot key is the
    * order id; custkey/date/price ride as payload images. Idempotent
    * per batchId. */
  def ingestBatch(spark: SparkSession, dir: String, changes: DataFrame,
      batchId: Long, numBuckets: Int = 8): Unit = {
    val plus = cells(
      changes.filter(col("change_type").isin("insert", "update")), "new", 1)
    val minus = cells(
      changes.filter(col("change_type").isin("delete", "update")), "old", -1)
    Cells.ingest(spark, dir, plus.unionByName(minus), batchId, numBuckets)
  }

  /** Full build from the current order content (backfill path). */
  def build(spark: SparkSession, dir: String, orders: DataFrame,
      numBuckets: Int = 8): Unit =
    Cells.build(spark, dir,
      orders.groupBy(col("o_custkey"), col("o_orderdate").as("d"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100, 0).cast("bigint")).as("cents")),
      numBuckets)

  /** Drain the orders CDC feed into the artifact ([[SignedCells.drain]])
    * with the standard depth-triggered self-fold. */
  def maintainFromCdc(spark: SparkSession, cdcDir: String, dir: String,
      checkpointDir: String, numBuckets: Int = 8,
      autoFoldDepth: Option[Int] = None): Unit =
    SignedCells.drain(spark, cdcDir, checkpointDir, Seq(Cells -> dir),
        autoFoldDepth) { (batch, v) =>
      ingestBatch(spark, dir, batch, v, numBuckets)
    }

  /** Log-fold compaction (cnt is the liveness gauge; a (customer, day)
    * cell whose orders all cancelled drops). */
  def fold(spark: SparkSession, dir: String): Unit = Cells.fold(spark, dir)

  /** The served per-customer frame (o_custkey, freq, cents, last_o) —
    * exactly what the live key derives from the order log, from
    * customers×active-days artifact rows instead. */
  def customerStats(spark: SparkSession, dir: String): DataFrame =
    Cells.live(spark, dir)
      .groupBy("o_custkey")
      .agg(sum("cnt").as("freq"), sum("cents").as("cents"),
        max("d").as("last_o"))

  /** Store-served RFM segmentation — the registered `q_rfm` output via
    * the shared [[graft.queries.Commerce.rfmFrom]] scoring seam, the
    * order log never read. */
  def rfm(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Commerce.rfmFrom(customerStats(spark, dir))

  /** The live per-(customer, day) cell frame (o_custkey, d, cents) —
    * every (customer, day) with a POSITIVE net order count after the
    * version-log sum, carrying that day's exact net cents. The shared
    * input shape of the day-2 serving paths below. */
  def activityCells(spark: SparkSession, dir: String): DataFrame =
    Cells.live(spark, dir).select("o_custkey", "d", "cents")

  /** Store-served cohort LTV (round 18 — the round-17 verdict's
    * commerce ask): the registered `q_cohort_ltv` output via the shared
    * [[graft.queries.Commerce.cohortLtvFrom]] seam, computed from the
    * maintained (customer, day) cells instead of an order-log scan —
    * the artifact already determines it exactly: cohort month = month
    * of the customer's first LIVE day (min commutes with month
    * truncation, and cancellations drop cells so a fully-cancelled
    * first month re-cohorts the customer exactly as a live rescan
    * would), monthly revenue = Σ net cents, month-activity = any live
    * cell in the month. The order log is never read. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Commerce.cohortLtvFrom(activityCells(spark, dir))
}
