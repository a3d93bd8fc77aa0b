package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Day-2 maintenance for the BEHAVIORAL-EVENTS axis (round 17 — the
  * round-16 verdict's item #5): every registered behavioral key
  * (`q_active_users`, retention, funnels) rescans the event log per
  * run. The log is the 100 TB axis — events dwarf users × days by
  * orders of magnitude — so the right maintained artifact is the
  * (user, day) ACTIVITY frame: DAU/WAU/stickiness reads become a
  * user×day-sized artifact read, and the event log is touched only by
  * arriving batches.
  *
  * ARTIFACT: (d, user_id, ver, cnt) — per activity pair, signed
  * ADDITIVE event counts under the CDC version: an insert contributes
  * +1 to its (day, user) pair, a delete −1 (event RETRACTION — the
  * GDPR-wipe wave the gate drives end-to-end), an update −old +new
  * (a ts edit that moves an event across midnight nets the pair move;
  * same-day edits net zero and write NOTHING). A pair is ACTIVE while
  * its net count is positive — so unlike a first-seen set, deletions
  * fall out for free, which is why the artifact carries counts rather
  * than bare pairs despite the feed being insert-mostly.
  *
  * Same log-structured (key, ver) exactly-once design as the other
  * maintained artifacts: per-version deltas are deterministic in the
  * batch frame, and the shared [[SignedCells]] mechanism supplies the
  * netting, the watermark/replay floor and the standard log-fold (cnt
  * as the liveness gauge — a pair netting 0 drops).
  *
  * Serving ([[activity]]): one artifact-sized net-sum → the distinct
  * (d, user_id) frame `q_active_users` derives from the log —
  * [[graft.queries.EventAnalytics.activeUsersFrom]] is the shared
  * seam, so store-served DAU/WAU equals the registered key EXACTLY
  * (gate-pinned).
  *
  * 100 TB shape: batch cost is one batch-sized aggregation to
  * pair-deltas; serving never reads an event; artifact size is
  * active-pairs × touched-versions, reclaimed by the fold.
  */
object ActivityStore {

  /** The full-build base version ([[SignedCells.BaseVer]]). */
  val BaseVer: Long = SignedCells.BaseVer

  private val Cells = SignedCells(Seq("d", "user_id"), Seq("cnt"))

  private def pairs(side: DataFrame, tsCol: String, userCol: String,
      sign: Int): DataFrame =
    side.groupBy(
      to_date(date_trunc("day", col(tsCol))).as("d"),
      col(userCol).as("user_id"))
      .agg((count(lit(1)) * sign).as("cnt"))

  /** One CDC batch of event changes as signed (day, user) count deltas
    * under version `batchId`. The events table's snapshot key is the
    * event id; ts/user ride as payload images. Idempotent per batchId;
    * empty nets (same-day edits) write nothing. */
  def ingestBatch(spark: SparkSession, dir: String, changes: DataFrame,
      batchId: Long, tsCol: String = "ts", userCol: String = "user_id",
      numBuckets: Int = 8): Unit = {
    val plus = pairs(
      changes.filter(col("change_type").isin("insert", "update")),
      s"new_$tsCol", s"new_$userCol", 1)
    val minus = pairs(
      changes.filter(col("change_type").isin("delete", "update")),
      s"old_$tsCol", s"old_$userCol", -1)
    Cells.ingest(spark, dir, plus.unionByName(minus), batchId, numBuckets)
  }

  /** Full build from the current event content (backfill path). */
  def build(spark: SparkSession, dir: String, events: DataFrame,
      tsCol: String = "ts", userCol: String = "user_id",
      numBuckets: Int = 8): Unit =
    Cells.build(spark, dir,
      events.groupBy(
        to_date(date_trunc("day", col(tsCol))).as("d"),
        col(userCol).as("user_id"))
        .agg(count(lit(1)).as("cnt")),
      numBuckets)

  /** Drain the events CDC feed into the artifact ([[SignedCells.drain]])
    * with the standard depth-triggered self-fold. */
  def maintainFromCdc(spark: SparkSession, cdcDir: String, dir: String,
      checkpointDir: String, tsCol: String = "ts",
      userCol: String = "user_id", numBuckets: Int = 8,
      autoFoldDepth: Option[Int] = None): Unit =
    SignedCells.drain(spark, cdcDir, checkpointDir, Seq(Cells -> dir),
        autoFoldDepth) { (batch, v) =>
      ingestBatch(spark, dir, batch, v, tsCol, userCol, numBuckets)
    }

  /** Log-fold compaction (cnt is the liveness gauge). */
  def fold(spark: SparkSession, dir: String): Unit = Cells.fold(spark, dir)

  /** The served DISTINCT (d, user_id) activity frame: pairs whose net
    * event count is positive — exactly the frame the live key derives
    * from the event log. Artifact-sized. */
  def activity(spark: SparkSession, dir: String): DataFrame =
    Cells.live(spark, dir).select("d", "user_id")

  /** Store-served DAU / rolling-7-day WAU / stickiness — the
    * registered `q_active_users` output computed through the shared
    * [[graft.queries.EventAnalytics.activeUsersFrom]] seam with the
    * event log never read. */
  def activeUsers(spark: SparkSession, dir: String): DataFrame =
    graft.queries.EventAnalytics.activeUsersFrom(activity(spark, dir))

  /** Store-served daily cohort retention — the registered
    * `q_retention_cohort` output from the artifact: a user's cohort
    * day is their first ACTIVE day, which the pair frame determines
    * exactly (day-truncation commutes with min), so retention needs
    * nothing the activity artifact doesn't already carry. A GDPR wipe
    * re-cohorts nothing retroactively wrong: the user's pairs vanish
    * entirely, exactly as the live recomputation over the reduced log
    * would (gate-pinned). */
  def retentionCohort(spark: SparkSession, dir: String): DataFrame =
    graft.queries.EventAnalytics.retentionCohortFrom(activity(spark, dir))

  /** Store-served weekly cohort retention + cross-cohort curve — the
    * registered `q_retention_weekly` output from the artifact. */
  def retentionWeekly(spark: SparkSession, dir: String): DataFrame =
    graft.queries.EventAnalytics.retentionWeeklyFrom(activity(spark, dir))
}
