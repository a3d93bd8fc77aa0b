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
  * LOG-STRUCTURED WEIGHTS: rows are (u, v, w, ver) signed cells
  * ([[SignedCells]]) — a batch's signed weight deltas land under its
  * own `ver` (the CDC version that carried them; the full build under
  * the base version), the current weight is the per-(u, v) SUM over
  * versions at read time, and replaying a version re-merges identical
  * rows (the exactly-once design documented at [[SignedCells]]); the
  * fold compacts the log.
  *
  * Basket atomicity contract: pair derivation needs WHOLE baskets, so
  * each ingested batch must carry complete orders (an order split
  * across two batches would miss its cross-batch pairs). Order commits
  * are atomic upstream and the CDC publish is one atomic rename per
  * committed version, so a batch == one whole version preserves
  * baskets BY CONSTRUCTION — which is exactly why [[maintainFromCdc]]
  * drains at version granularity and NOT via the file-granularity
  * [[Streams.cdcSource]] ([[VersionDrain]] records the round-14
  * sf0.1/local[32] bug that split baskets). `update` rows are
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

  private val EdgeCells = SignedCells(Seq("u", "v"), Seq("w"))
  private val DegreeCells = SignedCells(Seq("node"), Seq("dd"))
  private val CountCells = SignedCells(Seq("l_partkey"), Seq("n"))
  private val OrderCountCells = SignedCells(Seq("k"), Seq("n"))

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
    * corpus' pair weights under the base version. */
  def build(spark: SparkSession, edgeDir: String, li: DataFrame,
      numBuckets: Int = 16): Unit =
    EdgeCells.build(spark, edgeDir, pairWeights(li), numBuckets)

  /** One CDC batch's netted signed pair-weight delta (no version
    * column): inserted orders' pairs count +1, deleted orders' pairs −1,
    * a pair touched by both nets out (and drops from the delta entirely
    * when it nets to zero). Deterministic in the batch frame, so every
    * consumer action recomputes the identical delta. */
  private def batchDelta(changes: DataFrame): DataFrame = {
    val updates = changes.filter(col("change_type") === "update")
    require(updates.isEmpty,
      "update CDC rows are not supported by the edge store: a part swap " +
        "needs its whole basket — replay it as delete + insert of the order")
    def pairsOf(changeType: String) = pairWeights(
      changes.filter(col("change_type") === changeType)
        .select("l_orderkey", "l_partkey"))
    EdgeCells.net(pairsOf("insert")
      .unionByName(pairsOf("delete").withColumn("w", -col("w"))))
  }

  /** Apply one CDC micro-batch of order changes as signed weight deltas
    * under version `batchId`. Idempotent per batchId. */
  def ingestBatch(spark: SparkSession, edgeDir: String, changes: DataFrame,
      batchId: Long, numBuckets: Int = 16): Unit =
    EdgeCells.commit(spark, edgeDir, batchDelta(changes), batchId, numBuckets)

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
  // versioned-key signed cells already proven for weights.
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
      EdgeCells.build(spark, edgeDir, pw, numBuckets)
      // every distinct pair contributes one neighbor to each endpoint
      DegreeCells.build(spark, degreeDir,
        pw.select(col("u").as("node"))
          .unionByName(pw.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("dd")),
        numBuckets)
    } finally graft.queries.GateMemo.unpersistCheckpoint(pw)
  }

  /** [[ingestBatch]] plus degree maintenance: merge the batch's edge
    * delta, then derive each touched node's signed degree delta from
    * the version log (see the section comment for why this is
    * crash-window-safe) and merge it under the same `batchId`.
    * Idempotent per batchId on BOTH stores. */
  def ingestBatchWithDegrees(spark: SparkSession, edgeDir: String,
      degreeDir: String, changes: DataFrame, batchId: Long,
      numBuckets: Int = 16): Unit = {
    SignedCells.requireCdcVersion(batchId)
    val delta = batchDelta(changes)
    if (delta.isEmpty) return
    EdgeCells.commit(spark, edgeDir, delta, batchId, numBuckets)
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
    DegreeCells.ingest(spark, degreeDir,
      crossings.select(col("u").as("node"), col("dd"))
        .unionByName(crossings.select(col("v").as("node"), col("dd"))),
      batchId, numBuckets)
  }

  /** Current per-node co-purchase degree: node-sized version-log sum,
    * isolated (degree-0) nodes dropped — the exact frame
    * `q_graph_degree`'s batch derivation computes from scratch. */
  def degrees(spark: SparkSession, degreeDir: String): DataFrame =
    DegreeCells.live(spark, degreeDir).withColumnRenamed("dd", "degree")

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
  // arriving batches. Same signed cells as the edge store; the delta
  // is batch-deterministic (inserted (order, part) keys count +1 per
  // part, deleted −1), so replay re-merges identical rows — no
  // crash-window subtlety here at all (unlike degrees, nothing depends
  // on post-merge state).

  /** Full build of the per-part order-count store. */
  def buildCounts(spark: SparkSession, countsDir: String, li: DataFrame,
      numBuckets: Int = 16): Unit =
    CountCells.build(spark, countsDir,
      li.select("l_orderkey", "l_partkey").distinct()
        .groupBy("l_partkey").agg(count(lit(1)).as("n")),
      numBuckets)

  /** One CDC batch's signed per-part order-count delta, merged under
    * `batchId`. Idempotent per batchId. */
  def ingestCountsBatch(spark: SparkSession, countsDir: String,
      changes: DataFrame, batchId: Long, numBuckets: Int = 16): Unit = {
    def perPart(changeType: String, sign: Int) =
      changes.filter(col("change_type") === changeType)
        .select("l_orderkey", "l_partkey").distinct()
        .groupBy("l_partkey").agg((count(lit(1)) * sign).as("n"))
    CountCells.ingest(spark, countsDir,
      perPart("insert", 1).unionByName(perPart("delete", -1)),
      batchId, numBuckets)
  }

  /** Current per-part order counts: vocabulary-sized version-log sum,
    * parts no longer in any order dropped — the exact (l_partkey, n)
    * frame `Graphs.jaccardFrom` consumes. */
  def partCounts(spark: SparkSession, countsDir: String): DataFrame =
    CountCells.live(spark, countsDir)

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

  /** Full build of the total-order-count store (one row). */
  def buildOrderCount(spark: SparkSession, orderCountDir: String,
      li: DataFrame, numBuckets: Int = 1): Unit =
    OrderCountCells.build(spark, orderCountDir,
      li.select("l_orderkey").distinct().agg(count(lit(1)).as("n"))
        .withColumn("k", lit(0)),
      numBuckets)

  /** One CDC batch's signed order-count delta (+distinct inserted
    * orderkeys, −distinct deleted — exact under the whole-order batch
    * contract), merged under `batchId`. Idempotent per batchId. The
    * delta is one driver-side count, so it skips the netting plan. */
  def ingestOrderCountBatch(spark: SparkSession, orderCountDir: String,
      changes: DataFrame, batchId: Long, numBuckets: Int = 1): Unit = {
    SignedCells.requireCdcVersion(batchId)
    def distinctOrders(changeType: String) =
      changes.filter(col("change_type") === changeType)
        .select("l_orderkey").distinct().count()
    val delta = distinctOrders("insert") - distinctOrders("delete")
    if (delta != 0L) {
      import spark.implicits._
      OrderCountCells.commit(spark, orderCountDir,
        Seq((0, delta)).toDF("k", "n"), batchId, numBuckets)
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
    OrderCountCells.fold(spark, orderCountDir)

  /** Store-served top co-purchased pairs — the registered
    * `q_basket_pairs` output via the shared
    * [[graft.queries.Commerce.basketPairsFrom]] seam over the
    * maintained edge weights (w IS "orders containing both parts"),
    * the order log never read. Over a one-partition log ([[edges]])
    * the sum and the top-k run as ONE Spark job. */
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

  /** Drain the CDC feed into the edge store (and the opted-in degree,
    * part-count and order-count stores) and return when caught up —
    * [[SignedCells.drain]]: one ingest per COMMITTED VERSION, the only
    * granularity that keeps baskets whole. A re-run against a drained
    * feed merges nothing (gate-pinned store-version no-op); a crash
    * between a version's merges and its watermark write re-delivers
    * that version, which the per-version key idempotence absorbs. */
  def maintainFromCdc(spark: SparkSession, cdcDir: String, edgeDir: String,
      checkpointDir: String, numBuckets: Int = 16,
      degreeDir: Option[String] = None,
      countsDir: Option[String] = None,
      orderCountDir: Option[String] = None,
      autoFoldDepth: Option[Int] = None): Unit = {
    val targets = Seq(EdgeCells -> edgeDir) ++
      degreeDir.map(DegreeCells -> _) ++ countsDir.map(CountCells -> _) ++
      orderCountDir.map(OrderCountCells -> _)
    SignedCells.drain(spark, cdcDir, checkpointDir, targets,
        autoFoldDepth) { (batch, v) =>
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
  }

  /** The current weighted edge list: per-(u, v) sum over the version
    * log, fully-deleted edges dropped. One edge-sized scan + hash agg —
    * the frame every `q_graph_*` plan consumes in place of its live
    * lineitem derivation when the store is maintained. A log no larger
    * than [[SignedCells.onePartitionMaxBytes]] (256 KB) is read as one
    * partition ([[SignedCells.readLog]]), so the sum plans
    * no exchange; a larger log keeps the exchange-based plan. */
  def edges(spark: SparkSession, edgeDir: String): DataFrame =
    EdgeCells.live(spark, edgeDir)

  /** Fold the edge store's version log ([[SignedCells.fold]]). */
  def foldEdges(spark: SparkSession, edgeDir: String): Unit =
    EdgeCells.fold(spark, edgeDir)

  /** Fold the degree store's version log. */
  def foldDegrees(spark: SparkSession, degreeDir: String): Unit =
    DegreeCells.fold(spark, degreeDir)

  /** Fold the per-part order-count store's version log. */
  def foldCounts(spark: SparkSession, countsDir: String): Unit =
    CountCells.fold(spark, countsDir)
}
