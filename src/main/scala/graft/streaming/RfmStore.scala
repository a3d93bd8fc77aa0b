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
  * maintained artifacts (shared [[VersionDrain]] watermark, replay
  * floor, multi-measure fold with cnt as the liveness gauge).
  *
  * Serving ([[rfm]]): one artifact-sized net-sum to the per-customer
  * frame, then the SHARED [[graft.queries.Commerce.rfmFrom]] scoring
  * seam — store-served RFM == the registered key EXACTLY (gate-pinned).
  * The order log is never read.
  */
object RfmStore {

  /** The full-build base version; CDC versions are ≥ 0. */
  val BaseVer: Long = -1L

  private val Keys = Seq("o_custkey", "d", "ver")

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
    require(batchId >= 0L,
      s"batchId must be >= 0 (got $batchId): $BaseVer is reserved for the base build")
    val plus = cells(
      changes.filter(col("change_type").isin("insert", "update")), "new", 1)
    val minus = cells(
      changes.filter(col("change_type").isin("delete", "update")), "old", -1)
    val net = plus.unionByName(minus)
      .groupBy("o_custkey", "d")
      .agg(sum("cnt").as("cnt"), sum("cents").as("cents"))
      .filter(col("cnt") =!= 0L || col("cents") =!= 0L)
      .withColumn("ver", lit(batchId))
    SnapshotStore.merge(spark, dir, net, Keys, numBuckets)
  }

  /** Full build from the current order content (backfill path). */
  def build(spark: SparkSession, dir: String, orders: DataFrame,
      numBuckets: Int = 8): Unit = {
    val base = orders.groupBy(
      col("o_custkey"), col("o_orderdate").as("d"))
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("o_totalprice") * 100, 0).cast("bigint")).as("cents"))
      .withColumn("ver", lit(BaseVer))
    SnapshotStore.merge(spark, dir, base, Keys, numBuckets)
  }

  /** Drain the orders CDC feed into the artifact (shared
    * [[VersionDrain]] protocol) with the standard depth-triggered
    * self-fold. */
  def maintainFromCdc(spark: SparkSession, cdcDir: String, dir: String,
      checkpointDir: String, numBuckets: Int = 8,
      autoFoldDepth: Option[Int] = None): Unit = {
    VersionDrain.recoverFold(spark, dir)
    val floors = VersionDrain.readFoldedThrough(spark, dir).toSeq
    VersionDrain.drain(spark, cdcDir, checkpointDir, floors) { (batch, v) =>
      ingestBatch(spark, dir, batch, v, numBuckets)
    }
    autoFoldDepth.foreach { depth =>
      if (VersionDrain.logDepth(spark, dir, BaseVer) > depth)
        fold(spark, dir)
    }
  }

  /** Log-fold compaction (cnt is the liveness gauge; a (customer, day)
    * cell whose orders all cancelled drops). */
  def fold(spark: SparkSession, dir: String): Unit =
    VersionDrain.foldStoreMulti(spark, dir, Seq("o_custkey", "d"),
      Seq("cnt", "cents"), BaseVer)

  /** The served per-customer frame (o_custkey, freq, cents, last_o) —
    * exactly what the live key derives from the order log, from
    * customers×active-days artifact rows instead. */
  def customerStats(spark: SparkSession, dir: String): DataFrame =
    SnapshotStore.read(spark, dir)
      .groupBy("o_custkey", "d")
      .agg(sum("cnt").as("__cnt"), sum("cents").as("__cents"))
      .filter(col("__cnt") > 0L)
      .groupBy("o_custkey")
      .agg(sum("__cnt").as("freq"), sum("__cents").as("cents"),
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
    SnapshotStore.read(spark, dir)
      .groupBy("o_custkey", "d")
      .agg(sum("cnt").as("__cnt"), sum("cents").as("cents"))
      .filter(col("__cnt") > 0L)
      .select(col("o_custkey"), col("d"), col("cents"))

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
