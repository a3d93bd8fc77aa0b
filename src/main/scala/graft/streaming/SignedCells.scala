package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, sum}

/** One ADDITIVE maintained artifact: signed cells keyed by `keys` and
  * the CDC version `ver`, carrying the additive `measures` — a Z-set
  * (DBSP) over the version log. The FIRST measure is the liveness gauge:
  * a key is live while that measure nets > 0 over the log.
  *
  * Every additive store ([[ActivityStore]], [[RfmStore]],
  * [[FunnelStore]], [[GraphEdgeStore]]'s four artifacts,
  * [[TextIndexStore]]'s three, [[StatsStore]]) is a spec of this shape
  * plus its own builder of signed cells from change rows. The four
  * parts they share live here:
  *
  *  - NETTING ([[net]], [[ingest]]): sum a batch's signed cells per key,
  *    drop cells where every measure nets 0, stamp the version and
  *    merge. An all-zero batch commits no version (merge touches no
  *    bucket).
  *  - LIVE READ ([[live]]): sum the measures per key over the whole
  *    version log and keep the keys whose gauge is > 0. A log planned at
  *    most [[SignedCells.onePartitionMaxBytes]] (256 KB) is read as one
  *    partition ([[SignedCells.readLog]]), so a serve over it plans no
  *    exchange.
  *  - FOLD ([[fold]]): compact the log into a fresh [[SignedCells.BaseVer]]
  *    base ([[VersionDrain.foldStoreMulti]]: stage-then-swap, and the
  *    `_folded_through` replay floor).
  *  - DRAIN ([[SignedCells.drain]]): the version-granularity CDC drain
  *    over every target of one feed, floored on their fold markers, then
  *    the depth-triggered fold.
  *
  * EXACTLY-ONCE: a batch lands under its own `ver` (the CDC version that
  * carried it), so at-least-once redelivery re-merges IDENTICAL rows
  * under the same key — a no-op by [[SnapshotStore.merge]]'s
  * replace-by-key contract. Weights can never double-count without any
  * read-modify-write or offset marker (a marker-file design has an
  * unfixable crash window between data commit and marker write; the
  * version-in-the-key design has none). Store growth is one row per
  * (touched key, version), reclaimed by the fold. */
private[graft] final case class SignedCells(keys: Seq[String],
    measures: Seq[String]) {
  require(measures.nonEmpty, "SignedCells: no measure columns")

  private val keysVer = keys :+ "ver"

  private def sums = measures.map(m => sum(m).as(m))

  /** A batch's signed cells (keys + measures, any number of rows per
    * key) netted per key; cells where every measure nets 0 drop. */
  def net(cells: DataFrame): DataFrame =
    cells.groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
      .filter(measures.map(m => col(m) =!= 0L).reduce(_ || _))

  /** Merge already-netted cells under CDC version `batchId`. Idempotent
    * per batchId; nothing is committed when `netted` is empty. */
  def commit(spark: SparkSession, dir: String, netted: DataFrame,
      batchId: Long, numBuckets: Int): Unit = {
    SignedCells.requireCdcVersion(batchId)
    SnapshotStore.merge(spark, dir, netted.withColumn("ver", lit(batchId)),
      keysVer, numBuckets)
  }

  /** [[net]] then [[commit]]: one batch's signed cells under `batchId`. */
  def ingest(spark: SparkSession, dir: String, cells: DataFrame,
      batchId: Long, numBuckets: Int): Unit =
    commit(spark, dir, net(cells), batchId, numBuckets)

  /** Full build (backfill): `cells` are written under the base version. */
  def build(spark: SparkSession, dir: String, cells: DataFrame,
      numBuckets: Int): Unit =
    SnapshotStore.merge(spark, dir,
      cells.withColumn("ver", lit(SignedCells.BaseVer)), keysVer, numBuckets)

  /** The live cells (keys + netted measures) of a version-log frame;
    * callers may prune the log first (a term filter before the sum). */
  def live(log: DataFrame): DataFrame =
    log.groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
      .filter(col(measures.head) > 0L)

  /** The live cells of the store at `dir` ([[SignedCells.readLog]]). */
  def live(spark: SparkSession, dir: String): DataFrame =
    live(SignedCells.readLog(spark, dir))

  /** Fold the version log into a fresh base; keys whose gauge nets ≤ 0
    * are physically dropped. */
  def fold(spark: SparkSession, dir: String): Unit =
    VersionDrain.foldStoreMulti(spark, dir, keys, measures,
      SignedCells.BaseVer)
}

private[graft] object SignedCells {

  /** The full-build base version; CDC versions are ≥ 0. */
  val BaseVer: Long = -1L

  /** CDC batches carry their version as batchId; the base is not one. */
  def requireCdcVersion(batchId: Long): Unit =
    require(batchId >= 0L,
      s"batchId must be >= 0 (got $batchId): $BaseVer is reserved for the base build")

  /** The largest planned log size [[readLog]] reads as one partition:
    * 256 KB, measured by [[graft.tools.ServeSizeProbe]] on 4 cores
    * (one-partition time / exchange-plan time, medians of 3–5 runs).
    * `ActivityStore.activeUsers` gains below it (0.60 at 0.1 MB
    * planned, 0.80 at 0.3 MB), is even at 0.5 MB (1.02) and loses from
    * 1 MB (1.28; 2.28 at 8 MB). `GraphEdgeStore.basketPairs`, PageRank
    * over the store edges and `TextIndexStore.search` are within run
    * noise up to about 1 MB (0.81–1.29) and lose beyond (basketPairs
    * 1.46 at 8 MB, 2.39 at 129 MB; PageRank 1.45 at 8 MB). The
    * maintained stores of the `store_cdc` benchmark weigh 24–51 KB.
    * A var only so tests and the probe can read a log both ways. */
  @volatile private[graft] var onePartitionMaxBytes: Long = 256L << 10

  /** The version log at `dir` as a serve reads it. A log whose planned
    * size is at most [[onePartitionMaxBytes]] is read as ONE partition.
    * `SinglePartition` satisfies every clustered, ordered and all-tuples
    * distribution, so the log-sum and the aggregates, joins and
    * `orderBy` a serve plans over it need no exchange, and the serve
    * runs as one stage instead of one AQE stage submission per exchange
    * (an exchange, a broadcast or a range-sort sample each cost a Spark
    * job, and at store sizes a job costs more than the rows it moves).
    * The planned size comes from the file listing the read already did,
    * so deciding runs no Spark job. A larger log keeps the
    * exchange-based plan. */
  def readLog(spark: SparkSession, dir: String): DataFrame = {
    val log = SnapshotStore.read(spark, dir)
    if (log.queryExecution.optimizedPlan.stats.sizeInBytes <= onePartitionMaxBytes)
      log.coalesce(1)
    else log
  }

  /** Drain `cdcDir` into every `(spec, dir)` target that one feed
    * maintains, then fold each target whose log is deeper than
    * `autoFoldDepth` slices.
    *
    * Before the drain, every target is recovered from a crashed fold
    * swap ([[VersionDrain.recoverFold]]) — a drain against the
    * missing-live state would otherwise rebuild a fresh store without
    * the folded history — and the drain floor is raised to every
    * target's `_folded_through` marker: a folded version's rows are
    * gone, so a lost watermark must not let it re-merge (it would
    * DOUBLE COUNT), while unfolded versions above the floor replay
    * idempotently. `ingest(batch, version)` writes one whole version
    * into the targets (see [[VersionDrain]] for why version
    * granularity).
    *
    * SINGLE-WRITER CONTRACT (same as every SnapshotStore writer): one
    * drain (or fold) at a time per store. Concurrent drains would
    * interleave merge versions and race the watermark write; every
    * interleaving is CONTENT-safe (version-keyed idempotence), but
    * manifest versions and replay-no-op verdicts assume one writer.
    *
    * Self-triggering compaction: with a depth budget the drain bounds
    * every target's read amplification — a read sums at most
    * depth + 1 slices, for one store-sized rebuild every ~depth batches
    * (1/depth of a rebuild per batch amortized), no runbook. The folds
    * run AFTER the drain (folding mid-drain would churn the floor per
    * version). */
  def drain(spark: SparkSession, cdcDir: String, checkpointDir: String,
      targets: Seq[(SignedCells, String)], autoFoldDepth: Option[Int])(
      ingest: (DataFrame, Long) => Unit): Unit = {
    autoFoldDepth.foreach(d =>
      require(d >= 1, s"autoFoldDepth must be >= 1, got $d"))
    val dirs = targets.map(_._2)
    dirs.foreach(d => VersionDrain.recoverFold(spark, d))
    val floors = dirs.flatMap(d => VersionDrain.readFoldedThrough(spark, d))
    VersionDrain.drain(spark, cdcDir, checkpointDir, floors)(ingest)
    autoFoldDepth.foreach { depth =>
      targets.foreach { case (cells, dir) =>
        if (VersionDrain.logDepth(spark, dir, BaseVer) > depth)
          cells.fold(spark, dir)
      }
    }
  }
}
