package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Day-2 maintenance for the FUNNEL family (round 18 — the round-17
  * verdict's events-axis ask): `q_funnel` / `q_funnel_latency` /
  * `q_funnel_unordered` were the last registered readers of the 100 TB
  * event axis with no store-served path. Their shared dependency is
  * exactly the per-user MULTISET of step-typed (event_type, ts) pairs —
  * every funnel derivation is a chain of per-user min-aggregates and
  * deadline comparisons over that multiset (operators/Funnel.scala), so
  * it is invariant under collapsing duplicate (user, type, ts) rows to
  * a count. That makes the honest delete-safe artifact:
  *
  * ARTIFACT: (user_id, event_type, ts, ver, cnt) — per distinct
  * step-typed event cell, signed ADDITIVE counts under the CDC version:
  * an insert of a tracked step type contributes +1 to its cell, a
  * retraction −1 (the GDPR wave the gate drives end-to-end), an update
  * −old +new (which nets a move when the edit changes the ts, the type,
  * or the user; an edit between two NON-tracked types nets nothing and
  * writes nothing). A cell is live while its net count is positive.
  * Why counts at full-ts grain and not per-user step times: the funnel
  * state (first qualifying time per step) is a min-chain — NOT
  * delete-additive (retracting the winning event needs the runner-up,
  * which a min doesn't keep) — whereas the cell counts are, and the
  * full-ts grain is forced by the funnel's strict `>`/`<= +gap`
  * comparisons at microsecond precision (any bucketing would change
  * answers). The reduction vs the log is the step-type filter (the
  * tracked types' share of event volume) times duplicate collapse; the
  * payoff is that serving NEVER rescans the log and retraction waves
  * are plain additive deltas.
  *
  * The sequence-shaped siblings (`q_event_paths`, `q_event_transitions`,
  * `q_session_stats`) are deliberately NOT served from this store: a
  * deletion RE-LINKS its neighbors (the pair (prev→deleted) and
  * (deleted→next) must be replaced by (prev→next), and a session may
  * merge or split), so no per-cell signed algebra exists — an exact
  * incremental form needs the full per-user ordered sequence, i.e. the
  * log itself. SURVEY §2.3 records the measured refusal (SCALING.md
  * "Funnel store & the sequence notch").
  *
  * Same log-structured (key, ver) exactly-once design as the other
  * maintained artifacts: shared [[SignedCells]] netting,
  * watermark/replay floor, [[fold]] with cnt as the liveness gauge.
  *
  * Serving: one artifact-sized net-sum → the distinct live cell frame
  * ([[stepEvents]]), then the SAME [[graft.operators.Funnel]]
  * derivations the registered keys run — store-served funnel ==
  * the registered key EXACTLY (gate-pinned), the log never read. A
  * log no larger than [[SignedCells.onePartitionMaxBytes]] (256 KB)
  * reads as one partition ([[SignedCells.readLog]]).
  */
object FunnelStore {

  private val Cells = SignedCells(Seq("user_id", "event_type", "ts"), Seq("cnt"))

  private def cells(side: DataFrame, steps: Seq[String], prefix: String,
      tsCol: String, userCol: String, typeCol: String,
      sign: Int): DataFrame =
    side.filter(col(s"${prefix}_$typeCol").isin(steps: _*))
      .groupBy(
        col(s"${prefix}_$userCol").as("user_id"),
        col(s"${prefix}_$typeCol").as("event_type"),
        col(s"${prefix}_$tsCol").as("ts"))
      .agg((count(lit(1)) * sign).as("cnt"))

  /** One CDC batch of event changes as signed cell deltas under version
    * `batchId`, filtered to the tracked `steps` types on each side's
    * OWN image (so a type correction into/out of the tracked set
    * contributes on exactly the side where it is tracked). Idempotent
    * per batchId; an all-untracked or self-cancelling batch writes
    * nothing. */
  def ingestBatch(spark: SparkSession, dir: String, changes: DataFrame,
      batchId: Long, steps: Seq[String], tsCol: String = "ts",
      userCol: String = "user_id", typeCol: String = "event_type",
      numBuckets: Int = 8): Unit = {
    val plus = cells(
      changes.filter(col("change_type").isin("insert", "update")),
      steps, "new", tsCol, userCol, typeCol, 1)
    val minus = cells(
      changes.filter(col("change_type").isin("delete", "update")),
      steps, "old", tsCol, userCol, typeCol, -1)
    Cells.ingest(spark, dir, plus.unionByName(minus), batchId, numBuckets)
  }

  /** Full build from the current event content (backfill path). */
  def build(spark: SparkSession, dir: String, events: DataFrame,
      steps: Seq[String], tsCol: String = "ts",
      userCol: String = "user_id", typeCol: String = "event_type",
      numBuckets: Int = 8): Unit =
    Cells.build(spark, dir,
      events.filter(col(typeCol).isin(steps: _*))
        .groupBy(col(userCol).as("user_id"), col(typeCol).as("event_type"),
          col(tsCol).as("ts"))
        .agg(count(lit(1)).as("cnt")),
      numBuckets)

  /** Drain the events CDC feed into the artifact ([[SignedCells.drain]])
    * with the standard depth-triggered self-fold. */
  def maintainFromCdc(spark: SparkSession, cdcDir: String, dir: String,
      checkpointDir: String, steps: Seq[String], tsCol: String = "ts",
      userCol: String = "user_id", typeCol: String = "event_type",
      numBuckets: Int = 8, autoFoldDepth: Option[Int] = None): Unit =
    SignedCells.drain(spark, cdcDir, checkpointDir, Seq(Cells -> dir),
        autoFoldDepth) { (batch, v) =>
      ingestBatch(spark, dir, batch, v, steps, tsCol, userCol, typeCol,
        numBuckets)
    }

  /** Log-fold compaction (cnt is the liveness gauge — a cell whose
    * events were all retracted drops). */
  def fold(spark: SparkSession, dir: String): Unit = Cells.fold(spark, dir)

  /** The served distinct live cell frame (user_id, event_type, ts) —
    * every step-typed cell with a positive net count after the
    * version-log sum: exactly the multiset-support the funnel
    * derivations consume. Artifact-sized. */
  def stepEvents(spark: SparkSession, dir: String): DataFrame =
    Cells.live(spark, dir).select("user_id", "event_type", "ts")

  /** Store-served ordered funnel — the registered `q_funnel` output via
    * the same [[graft.operators.Funnel.run]] derivation (hash-identical
    * to the registered key's dispatched plan), the event log never
    * read. */
  def funnel(spark: SparkSession, dir: String, steps: Seq[String],
      maxGap: String): DataFrame =
    graft.operators.Funnel.run(stepEvents(spark, dir), steps, maxGap)

  /** Store-served step-latency percentiles (`q_funnel_latency`). */
  def funnelLatency(spark: SparkSession, dir: String, steps: Seq[String],
      maxGap: String): DataFrame =
    graft.operators.Funnel.latency(stepEvents(spark, dir), steps, maxGap)

  /** Store-served any-order funnel (`q_funnel_unordered`). */
  def funnelUnordered(spark: SparkSession, dir: String, steps: Seq[String],
      maxGap: String): DataFrame =
    graft.operators.Funnel.runUnordered(stepEvents(spark, dir), steps, maxGap)
}
