package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Day-2 maintenance for the co-purchase graph (round-13 verdict item
  * #2): the weighted edge list as a MAINTAINED artifact instead of a
  * per-query scan. Every `q_graph_*` key re-derives its edges from
  * lineitem live — the right call for exploratory queries at bench
  * scale, but at 100 TB the raw order log dwarfs the edge list by
  * orders of magnitude, and an analytics layer that re-shuffles the
  * whole log per graph question is mis-designed. Here the edge list
  * lives in a [[SnapshotStore]] and is maintained from the order
  * stream's CDC log, drained one COMMITTED VERSION at a time
  * ([[Streams.listCdcVersions]] + [[Streams.readCdcVersion]]): each
  * version of new (or cancelled) orders contributes map-side basket
  * pairs, merged as an additive upsert — so graph reads scan the
  * edge-sized store, and only arriving data ever touches the
  * lineitem-sized axis.
  *
  * LOG-STRUCTURED WEIGHTS — the exactly-once design: rows are
  * (u, v, ver, w) keyed by ALL THREE. A batch's signed weight deltas
  * land under its own `ver` (the CDC version that carried them; the
  * full build under [[BaseVer]]), and the current weight is the
  * per-(u, v) SUM over versions at read time. Replaying a batch
  * (the drain is at-least-once; a crash between merge and watermark
  * re-delivers the same version) re-merges IDENTICAL rows under the same key — a no-op
  * by [[SnapshotStore.merge]]'s replace-by-key contract — so weights
  * can never double-count without any read-modify-write or offset
  * marker (the marker-file design has an unfixable crash window
  * between data commit and marker write; the version-in-the-key design
  * has none). Store growth is one row per (touched pair, batch) —
  * batch-bounded, not graph-bounded; fold the log periodically by
  * rebuilding into a fresh store ([[build]]) and swapping dirs, the
  * standard log-compaction answer.
  *
  * Basket atomicity contract: pair derivation needs WHOLE baskets, so
  * each ingested batch must carry complete orders (an order split
  * across two batches would miss its cross-batch pairs). Order commits
  * are atomic upstream and the CDC publish is one atomic rename per
  * committed version, so a batch == one whole version preserves
  * baskets BY CONSTRUCTION — which is exactly why [[maintainFromCdc]]
  * drains at version granularity and NOT via the file-granularity
  * [[Streams.cdcSource]] (whose micro-batches cut on file boundaries
  * and provably split baskets once a version spans more files than the
  * trigger cap — the round-14 sf0.1/local[32] bug). `update` rows are
  * REFUSED loudly (a part swap needs its whole basket — replay it as
  * delete + insert of the order).
  *
  * Scale shape: a batch's delta is the same map-side basket expansion
  * `q_basket_pairs` measured linear-in-orders (SCALING.md), one
  * (u, v)-keyed rollup, and one bucket-pruned merge; [[edges]] is one
  * edge-sized scan + hash agg. Nothing lineitem-sized anywhere after
  * the initial build.
  */
object GraphEdgeStore {

  /** The full-rebuild base version; streaming batch ids are ≥ 0. */
  val BaseVer: Long = -1L

  private val Keys = Seq("u", "v", "ver")

  /** Weighted canonical (u < v) co-purchase pairs of a lineitem-shaped
    * frame: w = number of orders containing both parts (the
    * `q_graph_pagerank_weighted` edge derivation, shared Baskets
    * expansion — map-side, never an orderkey self-join). */
  def pairWeights(li: DataFrame): DataFrame =
    graft.queries.Baskets.pairs(
        graft.queries.Baskets.baskets(li.select("l_orderkey", "l_partkey")),
        "u", "v")
      .groupBy("u", "v").agg(count(lit(1)).as("w"))

  /** Full build (or periodic log-fold rebuild): persist the whole
    * corpus' pair weights under [[BaseVer]]. */
  def build(spark: SparkSession, edgeDir: String, li: DataFrame,
      numBuckets: Int = 16): Unit =
    SnapshotStore.merge(spark, edgeDir,
      pairWeights(li).withColumn("ver", lit(BaseVer)),
      Keys, numBuckets)

  /** One CDC batch's signed pair-weight delta (no version column):
    * inserted orders' pairs count +1, deleted orders' pairs −1, a pair
    * touched by both nets out (and drops from the delta entirely when
    * it nets to zero). Deterministic in the batch frame, so every
    * consumer action recomputes the identical delta. */
  private def batchDelta(changes: DataFrame): DataFrame = {
    val updates = changes.filter(col("change_type") === "update")
    require(updates.isEmpty,
      "update CDC rows are not supported by the edge store: a part swap " +
        "needs its whole basket — replay it as delete + insert of the order")
    def pairsOf(changeType: String) = pairWeights(
      changes.filter(col("change_type") === changeType)
        .select("l_orderkey", "l_partkey"))
    pairsOf("insert")
      .unionByName(pairsOf("delete").withColumn("w", -col("w")))
      .groupBy("u", "v").agg(sum("w").as("w"))
      .filter(col("w") =!= 0L)
  }

  /** Apply one CDC micro-batch of order changes as signed weight deltas
    * under version `batchId`. Idempotent per batchId — see the object
    * doc's exactly-once design. */
  def ingestBatch(spark: SparkSession, edgeDir: String, changes: DataFrame,
      batchId: Long, numBuckets: Int = 16): Unit = {
    require(batchId >= 0L,
      s"batchId must be >= 0 (got $batchId): $BaseVer is reserved for the base build")
    SnapshotStore.merge(spark, edgeDir,
      batchDelta(changes).withColumn("ver", lit(batchId)), Keys, numBuckets)
  }

  // ---- streaming degree twin (round-14 verdict item #7) -------------
  //
  // Per-micro-batch degree / top-hub maintenance over the same CDC
  // feed: a NODE-sized degree store kept exactly consistent with the
  // edge store, so "who are the hubs right now" is a node-sized read
  // instead of an edge-sized re-aggregation (let alone the
  // lineitem-sized rebuild the batch key pays).
  //
  // WHY NOT flatMapGroupsWithState ON NODE STATE: the obvious streaming
  // formulation keys the state store by node and carries each node's
  // neighbor→weight map, but (a) that map IS the edge store's content,
  // duplicated row-for-row into HDFS-backed state files whose replay
  // semantics would need re-proving from scratch, (b) a hub node's
  // state value is vocabulary-sized — the state store reads and
  // rewrites the whole map to bump one neighbor, the exact per-key
  // blowup the log-structured design avoids, and (c) basket pair
  // expansion needs a per-order grouping FIRST, and Structured
  // Streaming does not support a second stateful operator downstream of
  // flatMapGroupsWithState. The degree twin therefore rides the same
  // foreachBatch + versioned-key machinery already proven for weights.
  //
  // EXACTLY-ONCE ACROSS THE TWO MERGES: a batch commits the edge delta
  // and then the degree delta — a crash between the two re-delivers the
  // batch with the edge rows already committed. Degree deltas are
  // therefore computed from the POST-MERGE version log with the
  // batch's own version split out: old_w = Σw over ver ≠ batchId,
  // new_w = Σw over all — both reconstructible bit-identically on
  // redelivery no matter which merges landed, because the version key
  // makes history immutable. A node's degree delta is the count of its
  // incident pairs whose weight crossed zero in either direction.

  /** Build edge AND degree stores from the full corpus (or as the
    * periodic log-fold of both). */
  def buildWithDegrees(spark: SparkSession, edgeDir: String,
      degreeDir: String, li: DataFrame, numBuckets: Int = 16): Unit = {
    val pw = pairWeights(li).localCheckpoint(true)
    try {
      SnapshotStore.merge(spark, edgeDir,
        pw.withColumn("ver", lit(BaseVer)), Keys, numBuckets)
      // every distinct pair contributes one neighbor to each endpoint
      val d0 = pw.select(col("u").as("node"))
        .unionByName(pw.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("dd"))
        .withColumn("ver", lit(BaseVer))
      SnapshotStore.merge(spark, degreeDir, d0, DegreeKeys, numBuckets)
    } finally graft.queries.GateMemo.unpersistCheckpoint(pw)
  }

  private val DegreeKeys = Seq("node", "ver")

  /** [[ingestBatch]] plus degree maintenance: merge the batch's edge
    * delta, then derive each touched node's signed degree delta from
    * the version log (see the section comment for why this is
    * crash-window-safe) and merge it under the same `batchId`.
    * Idempotent per batchId on BOTH stores. */
  def ingestBatchWithDegrees(spark: SparkSession, edgeDir: String,
      degreeDir: String, changes: DataFrame, batchId: Long,
      numBuckets: Int = 16): Unit = {
    require(batchId >= 0L,
      s"batchId must be >= 0 (got $batchId): $BaseVer is reserved for the base build")
    val delta = batchDelta(changes)
    if (delta.isEmpty) return
    SnapshotStore.merge(spark, edgeDir,
      delta.withColumn("ver", lit(batchId)), Keys, numBuckets)
    // pair-pruned log read: only the batch's pairs can cross zero
    val crossings = SnapshotStore.read(spark, edgeDir)
      .join(delta.select("u", "v"), Seq("u", "v"), "left_semi")
      .groupBy("u", "v")
      .agg(
        sum(when(col("ver") =!= batchId, col("w")).otherwise(0L)).as("old_w"),
        sum("w").as("new_w"))
      .withColumn("dd",
        when(col("new_w") > 0L, 1L).otherwise(0L)
          - when(col("old_w") > 0L, 1L).otherwise(0L))
      .filter(col("dd") =!= 0L)
    val nodeDelta = crossings.select(col("u").as("node"), col("dd"))
      .unionByName(crossings.select(col("v").as("node"), col("dd")))
      .groupBy("node").agg(sum("dd").as("dd"))
      .filter(col("dd") =!= 0L)
      .withColumn("ver", lit(batchId))
    SnapshotStore.merge(spark, degreeDir, nodeDelta, DegreeKeys, numBuckets)
  }

  /** Current per-node co-purchase degree: node-sized version-log sum,
    * isolated (degree-0) nodes dropped — the exact frame
    * `q_graph_degree`'s batch derivation computes from scratch. */
  def degrees(spark: SparkSession, degreeDir: String): DataFrame =
    SnapshotStore.read(spark, degreeDir)
      .groupBy("node").agg(sum("dd").as("degree"))
      .filter(col("degree") > 0L)

  /** Top-k hubs from the maintained degree store (q_graph_degree's
    * ordering: degree desc, node asc tie-break — integer degrees make
    * the cutoff deterministic). Fuses to TakeOrderedAndProject over the
    * node-sized frame. */
  def topHubs(spark: SparkSession, degreeDir: String, k: Int = 20): DataFrame =
    degrees(spark, degreeDir)
      .orderBy(col("degree").desc, col("node"))
      .limit(k)

  // ---- per-part order-count store (round 14) ------------------------
  //
  // The third maintained artifact of the co-purchase family: n(p) =
  // number of orders containing part p — the basket-set size the
  // Jaccard similarity needs alongside the edge weights
  // (J = w / (n_u + n_v − w), `Graphs.jaccardFrom`). With edges AND
  // counts maintained, the entire similarity surface is served from
  // vocabulary-sized artifacts; the order log is touched only by
  // arriving batches. Same log-structured (key, ver) design as the
  // edge store; the delta is batch-deterministic (inserted (order,
  // part) keys count +1 per part, deleted −1), so replay re-merges
  // identical rows — no crash-window subtlety here at all (unlike
  // degrees, nothing depends on post-merge state).

  private val CountKeys = Seq("l_partkey", "ver")

  /** Full build of the per-part order-count store. */
  def buildCounts(spark: SparkSession, countsDir: String, li: DataFrame,
      numBuckets: Int = 16): Unit =
    SnapshotStore.merge(spark, countsDir,
      li.select("l_orderkey", "l_partkey").distinct()
        .groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .withColumn("ver", lit(BaseVer)),
      CountKeys, numBuckets)

  /** One CDC batch's signed per-part order-count delta, merged under
    * `batchId`. Idempotent per batchId. */
  def ingestCountsBatch(spark: SparkSession, countsDir: String,
      changes: DataFrame, batchId: Long, numBuckets: Int = 16): Unit = {
    require(batchId >= 0L,
      s"batchId must be >= 0 (got $batchId): $BaseVer is reserved for the base build")
    def perPart(changeType: String, sign: Int) =
      changes.filter(col("change_type") === changeType)
        .select("l_orderkey", "l_partkey").distinct()
        .groupBy("l_partkey").agg((count(lit(1)) * sign).as("n"))
    val delta = perPart("insert", 1).unionByName(perPart("delete", -1))
      .groupBy("l_partkey").agg(sum("n").as("n"))
      .filter(col("n") =!= 0L)
      .withColumn("ver", lit(batchId))
    SnapshotStore.merge(spark, countsDir, delta, CountKeys, numBuckets)
  }

  /** Current per-part order counts: vocabulary-sized version-log sum,
    * parts no longer in any order dropped — the exact (l_partkey, n)
    * frame `Graphs.jaccardFrom` consumes. */
  def partCounts(spark: SparkSession, countsDir: String): DataFrame =
    SnapshotStore.read(spark, countsDir)
      .groupBy("l_partkey").agg(sum("n").as("n"))
      .filter(col("n") > 0L)

  // ---- total-order-count store (round 18) ---------------------------
  //
  // The FOURTH (and tiniest) maintained artifact of the co-purchase
  // family: n = count of distinct orders with ≥ 1 line — the corpus
  // size `q_basket_lift`'s lift denominator needs next to the pair
  // weights and per-part counts. With all three maintained, the ENTIRE
  // market-basket surface (pair ranking, confidence, lift) serves from
  // artifacts. The count is delete-ADDITIVE precisely because of the
  // basket atomicity contract the whole family already enforces: a
  // batch carries WHOLE orders, so an insert batch's distinct-orderkey
  // count is all-new (+k) and a delete batch's is all-dead (−k) — no
  // per-order residency tracking needed. One row per batch under a
  // constant key; replay re-merges the identical (k, ver) row.

  private val OrderCountKeys = Seq("k", "ver")

  /** Full build of the total-order-count store (one row). */
  def buildOrderCount(spark: SparkSession, orderCountDir: String,
      li: DataFrame, numBuckets: Int = 1): Unit =
    SnapshotStore.merge(spark, orderCountDir,
      li.select("l_orderkey").distinct().agg(count(lit(1)).as("n"))
        .withColumn("k", lit(0)).withColumn("ver", lit(BaseVer)),
      OrderCountKeys, numBuckets)

  /** One CDC batch's signed order-count delta (+distinct inserted
    * orderkeys, −distinct deleted — exact under the whole-order batch
    * contract), merged under `batchId`. Idempotent per batchId. */
  def ingestOrderCountBatch(spark: SparkSession, orderCountDir: String,
      changes: DataFrame, batchId: Long, numBuckets: Int = 1): Unit = {
    require(batchId >= 0L,
      s"batchId must be >= 0 (got $batchId): $BaseVer is reserved for the base build")
    def distinctOrders(changeType: String) =
      changes.filter(col("change_type") === changeType)
        .select("l_orderkey").distinct().count()
    val delta = distinctOrders("insert") - distinctOrders("delete")
    if (delta != 0L) {
      import spark.implicits._
      SnapshotStore.merge(spark, orderCountDir,
        Seq((0, batchId, delta)).toDF("k", "ver", "n"),
        OrderCountKeys, numBuckets)
    }
  }

  /** The current total order count as a 1-row (n) frame — the lift
    * denominator, served without touching the order log. Empty store
    * (or fully-cancelled corpus) reads as n = 0. */
  def orderCount(spark: SparkSession, orderCountDir: String): DataFrame =
    SnapshotStore.read(spark, orderCountDir)
      .agg(coalesce(sum("n"), lit(0L)).as("n"))

  /** Fold the total-order-count store's version log. */
  def foldOrderCount(spark: SparkSession, orderCountDir: String): Unit =
    VersionDrain.foldStore(spark, orderCountDir, Seq("k"), "n", BaseVer)

  /** Store-served top co-purchased pairs — the registered
    * `q_basket_pairs` output via the shared
    * [[graft.queries.Commerce.basketPairsFrom]] seam over the
    * maintained edge weights (w IS "orders containing both parts"),
    * the order log never read. */
  def basketPairs(spark: SparkSession, edgeDir: String): DataFrame =
    graft.queries.Commerce.basketPairsFrom(
      edges(spark, edgeDir).select(col("u").as("part_a"),
        col("v").as("part_b"), col("w").as("orders")))

  /** Store-served association rules — the registered `q_basket_lift`
    * output via the shared [[graft.queries.Commerce.basketLiftFrom]]
    * seam: pair supports from the edge store, item order-counts from
    * the counts store, the corpus size from the order-count store.
    * Three artifact-sized reads, zero log scans. */
  def basketLift(spark: SparkSession, edgeDir: String, countsDir: String,
      orderCountDir: String): DataFrame =
    graft.queries.Commerce.basketLiftFrom(
      edges(spark, edgeDir).select(col("u").as("part_a"),
        col("v").as("part_b"), col("w").as("both_orders")),
      partCounts(spark, countsDir)
        .select(col("l_partkey").as("part"), col("n").as("cnt")),
      orderCount(spark, orderCountDir))

  // ---- version-granularity drain (round-15 fix) ----------------------
  //
  // WHY NOT A FILE STREAM: the previous drain consumed Streams.cdcSource
  // (readStream + maxFilesPerTrigger=16), whose micro-batches are cut on
  // FILE boundaries — but one committed CDC version is MANY part files
  // (the diff plan's partitioning: 27-32 at shuffle=32), so a version
  // whose files straddled the cap split an order's basket across two
  // foreachBatch invocations and the cross-fragment pairs were silently
  // never counted (562k of 1.196M edges missing at sf0.1/local[32] —
  // BENCH_r14 gate errors). No file-granularity batching can keep
  // baskets whole; the atomicity unit the publish protocol actually
  // guarantees is the VERSION. So the drain now iterates committed
  // versions directly: batchId = the CDC version, read with
  // Streams.readCdcVersion (whole version, atomic by the publish
  // rename), exactly-once via the same version-in-key idempotence —
  // re-ingesting a version re-merges identical rows under the same key,
  // a content no-op. The watermark below only SKIPS work; losing it is
  // always safe.

  /** Drain the CDC feed into the edge store and return when caught up.
    * One ingest per COMMITTED VERSION (batchId = the version), read
    * whole via [[Streams.readCdcVersion]] — the only granularity that
    * preserves basket atomicity (see the section comment; a file-stream
    * drain provably loses cross-fragment pairs at real parallelism).
    * Exactly-once: the watermark in `checkpointDir` skips versions
    * already ingested, so a re-run against a drained feed merges
    * nothing (gate-pinned store-version no-op); a crash between a
    * version's merges and its watermark write re-delivers that version,
    * which the per-version key idempotence absorbs as a content no-op. */
  def maintainFromCdc(spark: SparkSession, cdcDir: String, edgeDir: String,
      checkpointDir: String, numBuckets: Int = 16,
      degreeDir: Option[String] = None,
      countsDir: Option[String] = None,
      orderCountDir: Option[String] = None,
      autoFoldDepth: Option[Int] = None): Unit = {
    // SINGLE-WRITER CONTRACT (same as every SnapshotStore writer): one
    // drain (or fold) at a time per store. Two concurrent drains would
    // interleave merge versions and race the watermark write; the
    // design makes every interleaving CONTENT-safe (version-keyed
    // idempotence), but manifest versions and gate replay-no-op
    // verdicts assume a single writer — schedule drains and folds
    // accordingly.
    //
    // Extra skip floors: every target store's folded-through marker — a
    // folded version's rows are gone, so a lost watermark must not let
    // it re-merge (see the fold section); unfolded versions above the
    // floor still replay idempotently.
    val dirs = Seq(edgeDir) ++ degreeDir ++ countsDir ++ orderCountDir
    // self-heal any store whose last fold crashed mid-swap BEFORE
    // reading its fold floor: a drain against the missing-live state
    // would otherwise silently rebuild a fresh store without the
    // folded history ([[VersionDrain.recoverFold]])
    dirs.foreach(d => VersionDrain.recoverFold(spark, d))
    val floors = dirs.flatMap(d => readFoldedThrough(spark, d))
    VersionDrain.drain(spark, cdcDir, checkpointDir, floors) { (batch, v) =>
      degreeDir match {
        case Some(dd) =>
          ingestBatchWithDegrees(spark, edgeDir, dd, batch, v, numBuckets)
        case None => ingestBatch(spark, edgeDir, batch, v, numBuckets)
      }
      countsDir.foreach(cd =>
        ingestCountsBatch(spark, cd, batch, v, numBuckets))
      orderCountDir.foreach(od =>
        ingestOrderCountBatch(spark, od, batch, v))
    }
    // self-triggering compaction (round 15): with a depth budget the
    // drain leaves every store's read amplification bounded — a fold
    // every ~depth batches, no operational runbook. Runs AFTER the
    // drain (folding mid-drain would churn the floor per version).
    autoFoldDepth.foreach { depth =>
      VersionDrain.foldIfDeep(spark, edgeDir, Seq("u", "v"), "w",
        BaseVer, depth)
      degreeDir.foreach(dd => VersionDrain.foldIfDeep(spark, dd,
        Seq("node"), "dd", BaseVer, depth))
      countsDir.foreach(cd => VersionDrain.foldIfDeep(spark, cd,
        Seq("l_partkey"), "n", BaseVer, depth))
      orderCountDir.foreach(od => VersionDrain.foldIfDeep(spark, od,
        Seq("k"), "n", BaseVer, depth))
    }
  }

  /** Version-log depth of a store (slices above the folded base) — the
    * read-amplification gauge [[maintainFromCdc]]'s `autoFoldDepth`
    * budget bounds. */
  def logDepth(spark: SparkSession, dir: String): Long =
    VersionDrain.logDepth(spark, dir, BaseVer)

  /** The current weighted edge list: per-(u, v) sum over the version
    * log, fully-deleted edges dropped. One edge-sized scan + hash agg —
    * the frame every `q_graph_*` plan consumes in place of its live
    * lineitem derivation when the store is maintained. */
  def edges(spark: SparkSession, edgeDir: String): DataFrame =
    SnapshotStore.read(spark, edgeDir)
      .groupBy("u", "v").agg(sum("w").as("w"))
      .filter(col("w") > 0L)

  // ---- log-fold compaction (round 15) --------------------------------
  //
  // Store growth is one row per (touched key, version) — batch-bounded
  // per ingest but unbounded over the store's lifetime, and every read
  // re-sums the whole log. The fold reads the CURRENT summed state,
  // rebuilds a fresh store holding it under [[BaseVer]] alone, and
  // swaps directories — the log-compaction answer the object doc
  // promised, now an operation. Keys whose net value is ≤ 0 (fully
  // cancelled edges/nodes/parts) are physically dropped, matching what
  // the read views already hide.
  //
  // EXACTLY-ONCE INTERACTION: folded version rows are GONE, so a drain
  // whose watermark file was lost must NOT re-merge a folded version —
  // pre-fold that replay re-merged identical rows (a no-op); post-fold
  // it would DOUBLE COUNT. The fold therefore records the highest
  // folded version in a `_folded_through` file inside the new store
  // dir, and [[maintainFromCdc]]'s skip floor is the MAX of its
  // watermark and every target store's marker. Versions at or below
  // the marker were by construction already ingested (the log being
  // folded IS the record of what was ingested); versions above it
  // replay idempotently exactly as before.
  //
  // CRASH PROTOCOL (data-first, destructive-last): the fresh store is
  // fully built in `<dir>__fold_stage` — marker included — BEFORE the
  // two renames (live -> `<dir>__fold_old`, stage -> live) and the
  // delete of the old dir. A crash before the first rename leaves the
  // live store untouched (stage garbage is overwritten by the next
  // fold); between the renames the COMPLETE stage dir still exists
  // under its stage name, and [[VersionDrain.recoverFold]] — called by
  // every subsequent fold AND drain — completes the swap automatically
  // (round 15: the protocol's one manual recovery step, now code);
  // after the second rename only the dead `__fold_old` remains, swept
  // on the next fold/drain.

  /** Highest CDC version folded into `dir`'s base, if it was ever
    * folded ([[VersionDrain.readFoldedThrough]]). */
  private[graft] def readFoldedThrough(spark: SparkSession,
      dir: String): Option[Long] =
    VersionDrain.readFoldedThrough(spark, dir)

  /** Fold the edge store's version log (see the section comment;
    * mechanism shared via [[VersionDrain.foldStore]]). */
  def foldEdges(spark: SparkSession, edgeDir: String): Unit =
    VersionDrain.foldStore(spark, edgeDir, Seq("u", "v"), "w", BaseVer)

  /** Fold the degree store's version log. */
  def foldDegrees(spark: SparkSession, degreeDir: String): Unit =
    VersionDrain.foldStore(spark, degreeDir, Seq("node"), "dd", BaseVer)

  /** Fold the per-part order-count store's version log. */
  def foldCounts(spark: SparkSession, countsDir: String): Unit =
    VersionDrain.foldStore(spark, countsDir, Seq("l_partkey"), "n", BaseVer)
}
