package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the co-purchase graph — nodes are parts, an
  * undirected edge joins two parts that appear in the same order. The
  * classic product-graph workloads: hub degree, PageRank centrality
  * (unweighted and co-occurrence-weighted), triangle/clustering
  * structure, BFS reachability.
  *
  * Edge derivation reuses the `q_basket_pairs` formulation: ONE
  * orderkey-keyed basket aggregation, then a MAP-SIDE pair expansion
  * (fan-out bounded by basket size squared, 13 distinct parts max in
  * the driver's book) — never an orderkey self-join. The oracle keeps
  * the self-join derivation, so the edge multiset is independently
  * derived on both engines.
  *
  * Determinism stance: every ranking metric is computed in EXACT
  * integer arithmetic (PageRank runs on power-of-10-scaled integer
  * ranks with integer division; the clustering coefficient is an
  * integer-rounded ratio), so both engines emit bit-identical values in
  * any aggregation order — no floating-point sum-order hazard anywhere
  * in the family. The rank scale AUTO-SIZES to the node count (largest
  * power of 10 with overflow headroom, capped at 1e12 — [[rankScale]]),
  * derived from the same degree frame on both engines, so the family
  * degrades gracefully past the former 540k-node refusal instead of
  * failing.
  *
  * Scale stance (100 TB): the graph lives as an edge LIST — adjacency
  * is never materialized per node. Each PageRank iteration is one
  * node-sized broadcast-able contribution frame joined against the
  * edge list plus one dst-keyed aggregation; triangle counting uses
  * degree orientation so wedge fan-out is bounded by out-degree
  * ≤ O(sqrt(m)) even on hub-skewed graphs; BFS keeps per-hop frontiers
  * as distinct node frames with anti-join visited pruning.
  *
  * Checkpoint hygiene (round-13 verdict item #1): every key in the
  * family localCheckpoints multi-consumed frames (edge list, degrees,
  * oriented adjacency). Those blocks are DEAD the moment the key's
  * bounded (≤20-row) result exists, but left to the ContextCleaner they
  * accumulate across the family's consecutive bench slots and pressure
  * the block manager. [[finish]] therefore materializes the result
  * eagerly (a ≤20-row localCheckpoint) and frees every intermediate
  * immediately — each key leaves the session as clean as it found it.
  * Plan pins inspect the pre-finish plan via [[lazyBuild]].
  */
object Graphs {

  /** Oracle-side edge CTEs: canonical u<v co-purchase pairs `e`, the
    * symmetric adjacency `adj`, and per-node `deg` — prepended to every
    * oracle in the family. */
  private val edgeCtes =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2),
      |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |                         AND a.l_partkey < b.l_partkey),
      |adj AS (SELECT u AS src, v AS dst FROM e
      |        UNION ALL SELECT v AS src, u AS dst FROM e),
      |deg AS (SELECT src AS node, count(*) AS degree FROM adj GROUP BY 1)
      |""".stripMargin

  /** The PageRank integer rank scale for an n-node graph: the largest
    * power of 10 that keeps the damped update inside 64 bits, capped at
    * 1e12. Bound: total rank mass stays ≤ n·scale by induction (the
    * damped update is a convex-ish combination under integer floors),
    * so a node's neighbor contribution sum is ≤ n·scale and the ×17
    * numerator needs 17·n·scale < 2^63 — i.e. scale ≤ MaxValue/(17n).
    * Power-of-10 flooring uses the DIGIT COUNT of the cap, not log10
    * (floating log10 of an exact power of 10 can land a hair below the
    * integer and floor one decade too low); the oracle computes the
    * identical digits-of-the-integer-quotient formula in SQL, so both
    * engines pick the same scale from the same node count and move
    * together at any graph size. */
  private[graft] def rankScale(n: Long): Long = {
    val cap = Long.MaxValue / (17L * math.max(n, 1L))
    math.min(1000000000000L, ("1" + "0" * (cap.toString.length - 1)).toLong)
  }

  /** SQL twin of [[rankScale]]: `from` must be a one-column-usable CTE
    * whose row count is the node count (the degree/strength frame). */
  private def rankScaleSql(from: String): String =
    s"""sc AS (SELECT LEAST(CAST(1000000000000 AS BIGINT),
       |  CAST('1' || repeat('0',
       |    length(CAST(9223372036854775807 // (17 * greatest(count(*), 1))
       |                AS VARCHAR)) - 1) AS BIGINT)) AS scale FROM $from)""".stripMargin

  /** Canonical (u < v) distinct co-purchase edges, map-side pair
    * expansion per basket (shared Baskets helper; see the object doc).
    * Checkpointed: every query in the family reads it at least twice
    * (symmetrization, degrees, probes) and the basket shuffle should
    * run once. */
  private def edges(s: SparkSession, d: String): DataFrame =
    Baskets.pairs(Baskets.baskets(Tables.lineitem(s, d)), "u", "v")
      .distinct()
      .localCheckpoint(true)

  /** Weighted canonical edges: (u, v, w) where w = the number of orders
    * containing both parts — the pair multiplicity [[Baskets.pairs]]
    * emits before `q_basket_pairs`' distinct. Same single basket
    * shuffle; the weight is a map-side count rollup of the expansion. */
  private def weightedEdges(s: SparkSession, d: String): DataFrame =
    Baskets.pairs(Baskets.baskets(Tables.lineitem(s, d)), "u", "v")
      .groupBy("u", "v").agg(count(lit(1)).as("w"))
      .localCheckpoint(true)

  /** Both directions of the canonical edge list. */
  private def symmetrize(e: DataFrame): DataFrame =
    e.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst")))

  /** Per-node degree over the symmetric adjacency. */
  private def degrees(adj: DataFrame): DataFrame =
    adj.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))

  /** End-of-key cleanup (object doc "Checkpoint hygiene"): materialize
    * the bounded result NOW (≤20 rows — every key in the family is a
    * top-k or a small census/histogram), then free the key's
    * checkpointed intermediates. The returned frame owns its own tiny
    * block set; the multi-MB edge/degree/adjacency blocks are released
    * before the next key starts instead of drifting until the
    * ContextCleaner notices. */
  private def finish(result: DataFrame, spent: Seq[DataFrame]): DataFrame = {
    val out = result.localCheckpoint(true)
    spent.foreach(GateMemo.unpersistCheckpoint)
    out
  }

  /** Lazy (pre-[[finish]]) result + the checkpointed frames the build
    * created — plan pins read `_1`'s executed plan (the real compute
    * plan; the registered key's returned plan is an RDD scan of the
    * finished result). */
  private def degreeBuild(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val e = edges(s, d)
    (degrees(symmetrize(e))
      .orderBy(col("degree").desc, col("node"))
      .limit(20), Seq(e))
  }

  /** Top-20 hub parts by co-purchase degree (ties broken by part key —
    * integer degree, so the cutoff is deterministic on both engines).
    * The top-20 fuses to TakeOrderedAndProject: per-partition heaps +
    * a 20-row driver merge, no global sort. */
  val qGraphDegree = Q(
    "q_graph_degree",
    edgeCtes +
      """SELECT node, degree FROM deg
        |ORDER BY degree DESC, node LIMIT 20""".stripMargin) { (s, d) =>
    val (res, spent) = degreeBuild(s, d)
    finish(res, spent)
  }

  /** Top-20 Jaccard pairs from a weighted edge frame (u, v, w) plus a
    * per-part order-count frame (l_partkey, n) — shared by the live
    * key and the maintained-artifact path
    * (`q_gate_store_jaccard` serves the IDENTICAL frame from a
    * GraphEdgeStore + count store, no order-log scan). */
  private[graft] def jaccardFrom(we: DataFrame, n: DataFrame): DataFrame =
    we.filter(col("w") >= 2)
      .join(n.select(col("l_partkey").as("u"), col("n").as("nu")), "u")
      .join(n.select(col("l_partkey").as("v"), col("n").as("nv")), "v")
      .withColumn("den", col("nu") + col("nv") - col("w"))
      .select(col("u"), col("v"), col("w").as("both_orders"),
        expr("(20000 * w + den) DIV (2 * den)").as("jaccard_4dp"))
      .orderBy(col("jaccard_4dp").desc, col("u"), col("v"))
      .limit(20)

  private def jaccardBuild(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val we = weightedEdges(s, d)
    // per-part order count (the basket-set size) — vocabulary-sized,
    // checkpointed because both join probes read it
    val n = Tables.lineitem(s, d).select("l_orderkey", "l_partkey").distinct()
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    (jaccardFrom(we, n), Seq(we, n))
  }

  /** "Customers also bought": the top-20 most-similar part pairs by
    * basket-set Jaccard — J(u,v) = |orders(u) ∩ orders(v)| /
    * |orders(u) ∪ orders(v)| = w / (n_u + n_v − w), computed entirely
    * from the weighted edge list plus the vocabulary-sized per-part
    * order counts (this is the similarity the maintained
    * [[graft.streaming.GraphEdgeStore]] serves without touching the
    * order log: w is the stored edge weight, n is a node-sized
    * maintained count). Support floor w ≥ 2 keeps singleton-part
    * coincidences (J = 1 from two parts seen once, together) out of
    * the ranking — the same floor `q_basket_lift` applies. Jaccard is
    * emitted as an exact-integer 4dp half-up rational
    * ((20000·w + den) DIV (2·den)), so both engines rank identically
    * in any aggregation order; ties break on (u, v). Scale: pair
    * frame is support-filtered edge-bounded, count joins are
    * AQE-broadcast-able vocabulary frames, top-20 fuses to
    * TakeOrderedAndProject. */
  val qGraphJaccard = Q(
    "q_graph_jaccard",
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2),
      |n AS (SELECT l_partkey AS p, count(*) AS n FROM li GROUP BY 1),
      |w AS (SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS w
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |                         AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT u, v, w AS both_orders,
      |       (20000 * w + (nu.n + nv.n - w)) // (2 * (nu.n + nv.n - w))
      |         AS jaccard_4dp
      |FROM w JOIN n nu ON w.u = nu.p JOIN n nv ON w.v = nv.p
      |ORDER BY jaccard_4dp DESC, u, v LIMIT 20""".stripMargin) { (s, d) =>
    val (res, spent) = jaccardBuild(s, d)
    finish(res, spent)
  }

  /** Common-neighbors top-20 over a support-filtered (u, v) edge frame
    * — shared by the registered key (live lineitem derivation) and the
    * maintained-artifact path (GraphServingDemo serves the identical
    * frame from a GraphEdgeStore). Per-center neighbor set (unordered —
    * Baskets.pairs canonicalizes by value, so no per-group sort): the
    * wedge expansion is the SAME map-side Baskets.pairs the edge
    * derivation uses, applied to adjacency "baskets" — fan-out
    * deg(c)² per center, on the support-filtered graph where the
    * w ≥ 2 floor has already removed the one-off co-occurrence noise
    * that makes raw co-purchase adjacency hub-dense (the same
    * densifier control q_graph_jaccard and q_basket_lift apply; a
    * residual hub center would cap or TF-IDF-downweight exactly like
    * the near-dup df cap). */
  private[graft] def linkPredictFrom(e2: DataFrame): DataFrame = {
    val nbrs = symmetrize(e2).groupBy(col("src"))
      .agg(collect_set(col("dst")).as("basket"))
    val wedges = Baskets.pairs(nbrs, "a", "b")
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))
    wedges.join(
        e2.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"),
        "left_anti")
      .select(col("a").as("u"), col("b").as("v"),
        col("cn").as("common_neighbors"))
      .orderBy(col("common_neighbors").desc, col("u"), col("v"))
      .limit(20)
  }

  private def linkPredictBuild(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val e2 = weightedEdges(s, d).filter(col("w") >= 2)
      .select("u", "v").localCheckpoint(true)
    (linkPredictFrom(e2), Seq(e2))
  }

  /** Link prediction over the support-filtered co-purchase graph:
    * the top-20 part pairs that are NOT (repeatedly) bought together
    * but share the most common repeated-co-purchase neighbors — the
    * classic common-neighbors score, i.e. "bundles that should
    * exist". Wedge pairs enumerate map-side per center from unordered
    * neighbor sets (Baskets.pairs canonicalizes by value), counts roll up in
    * one pair-keyed agg, existing edges leave via LEFT ANTI, and the
    * top-20 fuses to TakeOrderedAndProject. The oracle derives wedges
    * independently (adjacency self-join on the center). */
  val qGraphLinkPredict = Q(
    "q_graph_link_predict",
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2),
      |e AS (SELECT a.l_partkey AS u, b.l_partkey AS v
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |                         AND a.l_partkey < b.l_partkey
      |      GROUP BY 1, 2 HAVING count(*) >= 2),
      |adj AS (SELECT u AS c, v AS n FROM e UNION ALL SELECT v, u FROM e),
      |wedge AS (SELECT x.n AS a, y.n AS b, count(*) AS cn
      |          FROM adj x JOIN adj y ON x.c = y.c AND x.n < y.n
      |          GROUP BY 1, 2),
      |cand AS (SELECT w.a, w.b, w.cn FROM wedge w
      |         LEFT JOIN e ON e.u = w.a AND e.v = w.b
      |         WHERE e.u IS NULL)
      |SELECT a AS u, b AS v, cn AS common_neighbors FROM cand
      |ORDER BY cn DESC, a, b LIMIT 20""".stripMargin) { (s, d) =>
    val (res, spent) = linkPredictBuild(s, d)
    finish(res, spent)
  }

  /** PageRank iteration core over an ALREADY-DERIVED canonical edge
    * frame (u, v) — the seam shared by the live key (edges from the
    * order log) and the maintained-artifact path
    * (`q_gate_store_pagerank` feeds [[graft.streaming.GraphEdgeStore]]
    * edges: rank serving with the order log never rescanned). Returns
    * the lazy top-20 plus the checkpointed degree frame to free. */
  private def pagerankCore(e: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val adj = symmetrize(e)
    val deg = degrees(adj).localCheckpoint(true)
    // 1-row driver read: the node count sizes the shared rank scale
    // ([[rankScale]] — the oracle derives the same number from the same
    // frame), and deg is already checkpointed for the loop
    val scale = rankScale(deg.count())
    val damp = 3L * scale / 20L
    // source degree annotated onto the adjacency ONCE (round-18
    // optimization): each iteration is then a single edge×rank join +
    // dst rollup instead of a rank×degree join feeding the edge join —
    // the probe measured the 3-iteration tail at 2.21 s → 1.26 s at
    // sf0.1. The contribution terms (r DIV degree, exact integers) are
    // unchanged, so the ranks stay bit-identical.
    val adjd = adj.join(deg.select(col("node").as("src"), col("degree")), "src")
      .localCheckpoint(true)
    var r = deg.select(col("node"), lit(scale).as("r"))
    for (_ <- 1 to 3) {
      r = adjd.join(r.select(col("node").as("src"), col("r")), "src")
        .groupBy(col("dst").as("node"))
        .agg((lit(damp) + expr("(17 * sum(r DIV degree)) DIV 20")).as("r"))
    }
    (r.select(col("node"), col("r").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("node"))
      .limit(20), Seq(deg, adjd))
  }

  private def pagerankBuild(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val e = edges(s, d)
    val (res, spent) = pagerankCore(e)
    (res, e +: spent)
  }

  /** Finished PageRank top-20 from a caller-supplied (u, v) edge frame
    * — the store-served entry point. */
  private[graft] def pagerankFrom(e: DataFrame): DataFrame = {
    val (res, spent) = pagerankCore(e)
    finish(res, spent)
  }

  /** PageRank centrality, 3 power iterations at damping 0.85, on
    * EXACT INTEGER ranks at the auto-sized [[rankScale]]: each node's
    * contribution is `rank DIV degree` (integer floor), the damped
    * update is `(3·scale) DIV 20 + (17 * sum(contribs)) DIV 20` — every
    * term is a 64-bit integer, so the iteration is bit-identical on
    * both engines in any aggregation order (a floating formulation
    * would round differently under different sum orders). No dangling
    * nodes exist: the node set is defined by the symmetric edge list,
    * so degree ≥ 1 everywhere.
    *
    * Plan per iteration: the contribution frame is NODE-sized (not
    * edge-sized) — AQE broadcasts it against the edge list — followed
    * by one dst-keyed aggregation with map-side partial sums. Overflow
    * headroom is BY CONSTRUCTION: the scale is the largest power of 10
    * with 17·n·scale < 2^63 (capped at 1e12), picked from the same
    * degree count by both engines — graphs past the former 540k-node
    * bound now lose rank resolution gracefully instead of refusing. */
  val qGraphPagerank = Q(
    "q_graph_pagerank",
    edgeCtes +
      s""",
        |${rankScaleSql("deg")},
        |pr0 AS (SELECT node, (SELECT scale FROM sc) AS r FROM deg),
        |pr1 AS (SELECT a.dst AS node,
        |               (3 * (SELECT scale FROM sc)) // 20
        |                 + (17 * sum(p.r // d.degree)) // 20 AS r
        |        FROM adj a JOIN pr0 p ON p.node = a.src
        |                   JOIN deg d ON d.node = a.src GROUP BY 1),
        |pr2 AS (SELECT a.dst AS node,
        |               (3 * (SELECT scale FROM sc)) // 20
        |                 + (17 * sum(p.r // d.degree)) // 20 AS r
        |        FROM adj a JOIN pr1 p ON p.node = a.src
        |                   JOIN deg d ON d.node = a.src GROUP BY 1),
        |pr3 AS (SELECT a.dst AS node,
        |               (3 * (SELECT scale FROM sc)) // 20
        |                 + (17 * sum(p.r // d.degree)) // 20 AS r
        |        FROM adj a JOIN pr2 p ON p.node = a.src
        |                   JOIN deg d ON d.node = a.src GROUP BY 1)
        |SELECT node, CAST(r AS BIGINT) AS rank_scaled FROM pr3
        |ORDER BY rank_scaled DESC, node LIMIT 20""".stripMargin) { (s, d) =>
    val (res, spent) = pagerankBuild(s, d)
    finish(res, spent)
  }

  private def pprBuild(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val e = edges(s, d)
    val (res, spent) = pprFrom(e)
    (res, e +: spent)
  }

  /** Personalized PageRank from a caller-supplied canonical (u, v)
    * edge frame — the serving seam the maintained edge store reads
    * through (`q_gate_store_reach_ppr`), shared with the live key so
    * the iteration core cannot drift. The caller owns `e` (pass a
    * materialized frame — the adjacency reads it once per iteration);
    * the returned spent frames are the internal checkpoints. */
  private[graft] def pprFrom(e: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val adj = symmetrize(e)
    val deg = degrees(adj).localCheckpoint(true)
    val scale = rankScale(deg.count())
    val damp = 3L * scale / 20L
    // the teleport target: the top hub (max degree, id tie-break) — a
    // 1-row checkpointed frame, UNIONED into every iteration rather
    // than CASE-added on the contribution side, because on sparse rank
    // frontiers the seed may receive no in-contributions at all and a
    // dst-side CASE would silently drop its teleport mass
    val tele = deg.orderBy(col("degree").desc, col("node")).limit(1)
      .select(col("node"), lit(damp).as("r")).localCheckpoint(true)
    // degree-annotated adjacency (see [[pagerankCore]]): one edge×rank
    // join per iteration, identical exact-integer terms
    val adjd = adj.join(deg.select(col("node").as("src"), col("degree")), "src")
      .localCheckpoint(true)
    var r = tele.select(col("node"), lit(scale).as("r"))
    for (_ <- 1 to 3) {
      r = adjd.join(r.select(col("node").as("src"), col("r")), "src")
        .groupBy(col("dst").as("node"))
        .agg(expr("(17 * sum(r DIV degree)) DIV 20").as("r"))
        .unionByName(tele)
        .groupBy("node").agg(sum("r").as("r"))
    }
    (r.select(col("node"), col("r").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("node"))
      .limit(20), Seq(deg, tele, adjd))
  }

  /** Personalized PageRank from the top co-purchase hub — the "related
    * to this product" ranking: teleport mass goes ONLY to the seed
    * (3/20 of scale per iteration, the same damping split as
    * [[qGraphPagerank]]), so rank decays with random-walk distance
    * from the seed instead of spreading to global centrality. Exact
    * integer arithmetic on the shared [[rankScale]]; the rank frame is
    * FRONTIER-sized (only nodes within t hops of the seed after t
    * iterations carry rank — at 100 TB that is the seed's
    * neighborhood, not the node universe), each iteration one
    * node-frame join against the checkpointed edge list + one
    * dst-keyed rollup, the same round-dominated shape the
    * GraphScaleProbe measured sub-linear. Unreached nodes hold zero
    * mass and are absent on both engines. */
  val qGraphPpr = Q(
    "q_graph_ppr",
    edgeCtes +
      s""",
        |${rankScaleSql("deg")},
        |seed AS (SELECT node FROM deg ORDER BY degree DESC, node LIMIT 1),
        |t AS (SELECT node, (3 * (SELECT scale FROM sc)) // 20 AS r FROM seed),
        |p0 AS (SELECT node, (SELECT scale FROM sc) AS r FROM seed),
        |c1 AS (SELECT a.dst AS node, (17 * sum(p.r // d.degree)) // 20 AS r
        |       FROM adj a JOIN p0 p ON p.node = a.src
        |                  JOIN deg d ON d.node = a.src GROUP BY 1),
        |p1 AS (SELECT node, sum(r) AS r FROM
        |       (SELECT * FROM c1 UNION ALL SELECT * FROM t) GROUP BY 1),
        |c2 AS (SELECT a.dst AS node, (17 * sum(p.r // d.degree)) // 20 AS r
        |       FROM adj a JOIN p1 p ON p.node = a.src
        |                  JOIN deg d ON d.node = a.src GROUP BY 1),
        |p2 AS (SELECT node, sum(r) AS r FROM
        |       (SELECT * FROM c2 UNION ALL SELECT * FROM t) GROUP BY 1),
        |c3 AS (SELECT a.dst AS node, (17 * sum(p.r // d.degree)) // 20 AS r
        |       FROM adj a JOIN p2 p ON p.node = a.src
        |                  JOIN deg d ON d.node = a.src GROUP BY 1),
        |p3 AS (SELECT node, sum(r) AS r FROM
        |       (SELECT * FROM c3 UNION ALL SELECT * FROM t) GROUP BY 1)
        |SELECT node, CAST(r AS BIGINT) AS rank_scaled FROM p3
        |ORDER BY rank_scaled DESC, node LIMIT 20""".stripMargin) { (s, d) =>
    val (res, spent) = pprBuild(s, d)
    finish(res, spent)
  }

  private def pprBatchBuild(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val e = edges(s, d)
    val (res, spent) = pprBatchFrom(e)
    (res, e +: spent)
  }

  /** Batched PPR from a caller-supplied canonical (u, v) edge frame —
    * see [[pprFrom]]'s seam contract. */
  private[graft] def pprBatchFrom(e: DataFrame): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    val adj = symmetrize(e)
    val deg = degrees(adj).localCheckpoint(true)
    val scale = rankScale(deg.count())
    val damp = 3L * scale / 20L
    val tele = deg.orderBy(col("degree").desc, col("node")).limit(5)
      .select(col("node").as("seed"), col("node"), lit(damp).as("r"))
      .localCheckpoint(true)
    // degree-annotated adjacency (see [[pagerankCore]]): one edge×rank
    // join per iteration, the seed key just rides the rank frame
    val adjd = adj.join(deg.select(col("node").as("src"), col("degree")), "src")
      .localCheckpoint(true)
    var r = tele.select(col("seed"), col("node"), lit(scale).as("r"))
    for (_ <- 1 to 3) {
      r = adjd.join(
          r.select(col("seed"), col("node").as("src"), col("r")), "src")
        .groupBy(col("seed"), col("dst").as("node"))
        .agg(expr("(17 * sum(r DIV degree)) DIV 20").as("r"))
        .unionByName(tele)
        .groupBy("seed", "node").agg(sum("r").as("r"))
    }
    val w = Window.partitionBy("seed").orderBy(col("r").desc, col("node"))
    (r.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("seed"), col("node"), col("r").as("rank_scaled"))
      .orderBy(col("seed"), col("rank_scaled").desc, col("node")),
      Seq(deg, tele, adjd))
  }

  /** Batched personalized PageRank — "related products" for the top-5
    * hubs computed in ONE iteration pipeline: rank frames carry a
    * `seed` key, so each iteration's edge join + dst rollup serves ALL
    * personalization targets at once instead of re-running the walk
    * per seed. This is the batch-serving shape that matters at 100 TB:
    * the expensive axis (the edge list) is traversed 3 times total, no
    * matter how many seeds ride the frame — contribution frames grow
    * by seeds × frontier, the same bounded rows-per-seed the
    * single-seed key carries, and adding a seed costs a frame row, not
    * a pipeline run. Per-seed top-5 cuts through Catalyst's
    * WindowGroupLimit (rank pushdown — per-partition heaps, no global
    * sort of the rank frame). Same union-teleport + exact-integer
    * machinery as [[qGraphPpr]]. */
  val qGraphPprBatch = Q(
    "q_graph_ppr_batch",
    edgeCtes +
      s""",
        |${rankScaleSql("deg")},
        |seeds AS (SELECT node AS seed FROM deg
        |          ORDER BY degree DESC, node LIMIT 5),
        |t AS (SELECT seed, seed AS node,
        |             (3 * (SELECT scale FROM sc)) // 20 AS r FROM seeds),
        |p0 AS (SELECT seed, seed AS node, (SELECT scale FROM sc) AS r
        |       FROM seeds),
        |c1 AS (SELECT p.seed, a.dst AS node,
        |              (17 * sum(p.r // d.degree)) // 20 AS r
        |       FROM adj a JOIN p0 p ON p.node = a.src
        |                  JOIN deg d ON d.node = a.src GROUP BY 1, 2),
        |p1 AS (SELECT seed, node, sum(r) AS r FROM
        |       (SELECT * FROM c1 UNION ALL SELECT * FROM t) GROUP BY 1, 2),
        |c2 AS (SELECT p.seed, a.dst AS node,
        |              (17 * sum(p.r // d.degree)) // 20 AS r
        |       FROM adj a JOIN p1 p ON p.node = a.src
        |                  JOIN deg d ON d.node = a.src GROUP BY 1, 2),
        |p2 AS (SELECT seed, node, sum(r) AS r FROM
        |       (SELECT * FROM c2 UNION ALL SELECT * FROM t) GROUP BY 1, 2),
        |c3 AS (SELECT p.seed, a.dst AS node,
        |              (17 * sum(p.r // d.degree)) // 20 AS r
        |       FROM adj a JOIN p2 p ON p.node = a.src
        |                  JOIN deg d ON d.node = a.src GROUP BY 1, 2),
        |p3 AS (SELECT seed, node, sum(r) AS r FROM
        |       (SELECT * FROM c3 UNION ALL SELECT * FROM t) GROUP BY 1, 2)
        |SELECT seed, node, CAST(r AS BIGINT) AS rank_scaled FROM p3
        |QUALIFY row_number() OVER (PARTITION BY seed
        |                           ORDER BY r DESC, node) <= 5
        |ORDER BY seed, rank_scaled DESC, node""".stripMargin) { (s, d) =>
    val (res, spent) = pprBatchBuild(s, d)
    finish(res, spent)
  }

  /** Weighted-PageRank core over an ALREADY-DERIVED weighted edge frame
    * (u, v, w) — same store-serving seam as [[pagerankCore]]; the
    * GraphEdgeStore's maintained weights are exactly this frame. */
  private def pagerankWeightedCore(ew: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val adjw = ew.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionByName(ew.select(col("v").as("src"), col("u").as("dst"), col("w")))
    val strength = adjw.groupBy(col("src").as("node"))
      .agg(sum("w").as("sw")).localCheckpoint(true)
    val scale = rankScale(strength.count())
    val damp = 3L * scale / 20L
    // strength-annotated adjacency (see [[pagerankCore]]): one edge×rank
    // join per iteration. (r DIV sw) * w — not (r*w) DIV sw — keeps
    // every term ≤ rank mass, so the overflow bound is the same
    // Σ r ≤ n·scale as the unweighted key, independent of the weight
    // distribution.
    val adjwd = adjw.join(strength.select(col("node").as("src"), col("sw")), "src")
      .localCheckpoint(true)
    var r = strength.select(col("node"), lit(scale).as("r"))
    for (_ <- 1 to 3) {
      r = adjwd.join(r.select(col("node").as("src"), col("r")), "src")
        .groupBy(col("dst").as("node"))
        .agg((lit(damp) + expr("(17 * sum((r DIV sw) * w)) DIV 20")).as("r"))
    }
    (r.select(col("node"), col("r").as("rank_scaled"))
      .orderBy(col("rank_scaled").desc, col("node"))
      .limit(20), Seq(strength, adjwd))
  }

  private def pagerankWeightedBuild(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val ew = weightedEdges(s, d)
    val (res, spent) = pagerankWeightedCore(ew)
    (res, ew +: spent)
  }

  /** Finished weighted-PageRank top-20 from a caller-supplied (u, v, w)
    * frame — the store-served entry point. */
  private[graft] def pagerankWeightedFrom(ew: DataFrame): DataFrame = {
    val (res, spent) = pagerankWeightedCore(ew)
    finish(res, spent)
  }

  /** Co-occurrence-WEIGHTED PageRank — the ranking merchandisers use:
    * an edge's weight is how many orders contain both parts (the pair
    * multiplicity `q_basket_pairs` counts), so a part bought alongside
    * a hub 50 times pulls 50× the rank of a one-off co-purchase. Node
    * strength sw = Σ w replaces degree; the contribution along an edge
    * is `(rank DIV sw) · w` in exact integers — with uniform weights
    * this is literally `rank DIV degree`, so the unweighted ranks are a
    * special case (GraphsSpec pins it). Same auto-sized [[rankScale]],
    * same node-sized-broadcast iteration plan, same overflow bound (see
    * the build's comment — the floor-before-multiply form keeps the
    * mass invariant weight-independent). */
  val qGraphPagerankWeighted = Q(
    "q_graph_pagerank_weighted",
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2),
      |ew AS (SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS w
      |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |                          AND a.l_partkey < b.l_partkey
      |       GROUP BY 1, 2),
      |adjw AS (SELECT u AS src, v AS dst, w FROM ew
      |         UNION ALL SELECT v AS src, u AS dst, w FROM ew),
      |str AS (SELECT src AS node, sum(w) AS sw FROM adjw GROUP BY 1),
      |""".stripMargin +
      rankScaleSql("str") +
      """,
        |pr0 AS (SELECT node, (SELECT scale FROM sc) AS r FROM str),
        |pr1 AS (SELECT a.dst AS node,
        |               (3 * (SELECT scale FROM sc)) // 20
        |                 + (17 * sum((p.r // t.sw) * a.w)) // 20 AS r
        |        FROM adjw a JOIN pr0 p ON p.node = a.src
        |                    JOIN str t ON t.node = a.src GROUP BY 1),
        |pr2 AS (SELECT a.dst AS node,
        |               (3 * (SELECT scale FROM sc)) // 20
        |                 + (17 * sum((p.r // t.sw) * a.w)) // 20 AS r
        |        FROM adjw a JOIN pr1 p ON p.node = a.src
        |                    JOIN str t ON t.node = a.src GROUP BY 1),
        |pr3 AS (SELECT a.dst AS node,
        |               (3 * (SELECT scale FROM sc)) // 20
        |                 + (17 * sum((p.r // t.sw) * a.w)) // 20 AS r
        |        FROM adjw a JOIN pr2 p ON p.node = a.src
        |                    JOIN str t ON t.node = a.src GROUP BY 1)
        |SELECT node, CAST(r AS BIGINT) AS rank_scaled FROM pr3
        |ORDER BY rank_scaled DESC, node LIMIT 20""".stripMargin) { (s, d) =>
    val (res, spent) = pagerankWeightedBuild(s, d)
    finish(res, spent)
  }

  private def trianglesBuild(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val e = edges(s, d)
    val (res, spent) = trianglesFrom(e)
    (res, e +: spent)
  }

  /** Triangle census over an ALREADY-DERIVED canonical (u, v) edge
    * frame — the seam shared by the live key and the maintained-
    * artifact path (`q_gate_store_triangles` feeds
    * [[graft.streaming.GraphEdgeStore]] edges: neighborhood analytics
    * with the order log never rescanned). Returns the lazy census row
    * plus the checkpointed intermediates to free. */
  private[graft] def trianglesFrom(e: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val deg = degrees(symmetrize(e)).localCheckpoint(true)
    // orient each edge low→high in (degree, id) order
    val du = deg.select(col("node").as("u"), col("degree").as("du"))
    val dv = deg.select(col("node").as("v"), col("degree").as("dv"))
    val oriented = e.join(du, "u").join(dv, "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("a"), col("v").as("b")))
          .otherwise(struct(col("v").as("a"), col("u").as("b")))
          .as("o"))
      .select(col("o.a"), col("o.b"))
      .localCheckpoint(true)
    // node-sized out-adjacency; sink nodes (no out-edges) are absent,
    // so the inner joins below drop edges that cannot close a triangle
    // (their intersection would be empty) — hence the coalesce on the
    // possibly-empty sum
    val outAdj = oriented.groupBy(col("a"))
      .agg(collect_list(col("b")).as("nbrs"))
    val tri = oriented
      .join(outAdj.select(col("a"), col("nbrs").as("na")), Seq("a"))
      .join(outAdj.select(col("a").as("b"), col("nbrs").as("nb")), Seq("b"))
      .select(size(array_intersect(col("na"), col("nb"))).as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("triangles"))
    val wed = deg.agg(
      sum(expr("degree * (degree - 1) DIV 2")).as("wedges"),
      count(lit(1)).as("nodes"))
    val es = e.agg(count(lit(1)).as("edges"))
    (wed.crossJoin(es).crossJoin(tri)
      .select(col("nodes"), col("edges"), col("wedges"), col("triangles"),
        // exact-integer 4dp half-up rounding of 3·tri/wedges; a
        // wedgeless graph (disjoint edges — or no edges: sum() over
        // empty leaves wedges NULL) has no defined coefficient
        when(coalesce(col("wedges"), lit(0L)) === 0L, lit(null).cast("double"))
          .otherwise(
            expr("CAST((6 * triangles * 10000 + wedges) DIV (2 * wedges) " +
              "AS DOUBLE) / 10000.0")).as("clustering_coef")),
      Seq(deg, oriented))
  }

  /** Global triangle census: node/edge/wedge/triangle counts and the
    * global clustering coefficient (3·triangles / wedges, 4dp half-up
    * in exact integer arithmetic — the q_cohort_ltv rounding trick).
    *
    * Triangle counting uses DEGREE ORIENTATION (orient every edge from
    * its lower-(degree, id) endpoint to the higher): each triangle has
    * a unique apex edge (x→y with x→z, y→z), so it is counted exactly
    * once as `|N+(x) ∩ N+(y)|` over the oriented edge (x,y), and
    * out-degree is capped at O(sqrt(m)) by the orientation even on
    * hub-skewed graphs. The intersection form NEVER materializes the
    * wedge set (the sf0.1 co-purchase graph has ~36M oriented wedges
    * vs 1.2M edges — the wedge-join twin measured 2.5x slower,
    * BASELINE.md): the
    * out-adjacency frame is NODE-sized (avg out-degree ≈ deg/2 longs
    * per row; AQE broadcasts it while it fits, shuffle-joins beyond),
    * and the per-edge `array_intersect` runs map-side in codegen with
    * one 1-row aggregation behind it. The oracle keeps the naive
    * a<b<c three-way self-join — an independent derivation of the
    * same count. */
  val qGraphTriangles = Q(
    "q_graph_triangles",
    edgeCtes +
      """,
        |tri AS (SELECT count(*) AS triangles
        |        FROM e e1 JOIN e e2 ON e2.u = e1.v
        |                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |wed AS (SELECT CAST(sum(degree * (degree - 1) // 2) AS BIGINT) AS wedges,
        |               count(*) AS nodes FROM deg),
        |es AS (SELECT count(*) AS edges FROM e)
        |SELECT w.nodes, es.edges, w.wedges, t.triangles,
        |       CAST((6 * t.triangles * 10000 + w.wedges) // (2 * w.wedges)
        |            AS DOUBLE) / 10000.0 AS clustering_coef
        |FROM tri t, wed w, es""".stripMargin) { (s, d) =>
    val (res, spent) = trianglesBuild(s, d)
    finish(res, spent)
  }

  /** BFS reachability from the minimum part key: how many nodes sit at
    * each hop distance (min-hop per node), out to 3 hops. Frontier
    * expansion per hop is one adjacency join + distinct + an anti-join
    * against the visited set — per-hop frames are node-bounded, never
    * path-bounded, so the dense-graph blowup (every path enumerated)
    * cannot happen. The oracle's recursive CTE dedups (node, hop) pairs
    * by UNION and takes min(hop) per node — same contract, independent
    * mechanism. */
  val qGraphReach = Q(
    "q_graph_reach",
    edgeCtes.replace("WITH ", "WITH RECURSIVE ") +
      """,
        |r(node, hop) AS (
        |  SELECT (SELECT min(u) FROM e), 0
        |  UNION
        |  SELECT a.dst, r.hop + 1 FROM r JOIN adj a ON a.src = r.node
        |  WHERE r.hop < 3
        |),
        |-- an edgeless corpus has a NULL seed row: drop it so the
        |-- oracle matches the Spark side's empty-frame guard
        |mh AS (SELECT node, min(hop) AS hop FROM r
        |       WHERE node IS NOT NULL GROUP BY 1)
        |SELECT CAST(hop AS BIGINT) AS hop, count(*) AS nodes FROM mh
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val e = edges(s, d)
    val (res, spent) = reachFrom(e)
    finish(res, e +: spent)
  }

  /** BFS hop histogram from a caller-supplied canonical (u, v) edge
    * frame — the serving seam the maintained edge store reads through
    * (`q_gate_store_reach_ppr`), shared with the live key. Caller owns
    * `e` (pass a materialized frame — the adjacency derives from it);
    * spent frames are the internal checkpoints. */
  private[graft] def reachFrom(e: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val s = e.sparkSession
    import s.implicits._
    val adj = symmetrize(e).localCheckpoint(true)
    // 1-row driver read — the seed is a scalar parameter of the scan,
    // not a data-sized collect. An edgeless corpus has no seed: emit
    // the empty histogram under the output schema (the convention the
    // active-users family uses for an empty log)
    val seedRow = adj.agg(min("src")).head()
    if (seedRow.isNullAt(0))
      (Seq.empty[(Long, Long)].toDF("hop", "nodes"), Seq(adj))
    else {
      val seed = seedRow.getLong(0)
      var visited = Seq((seed, 0L)).toDF("node", "hop")
      var frontier = Seq(seed).toDF("node")
      var hops = Seq.empty[DataFrame]
      for (h <- 1 to 3) {
        // anti-join BEFORE the distinct (round-18 optimization): the
        // visited filter is a broadcast map-side probe, so running it
        // under the exchange drops already-visited candidates before
        // they shuffle — on the dense late hops that is most of the
        // edge-sized candidate stream (probe: hop loop 3.2 → 2.4 s at
        // sf0.1). distinct∘anti ≡ anti∘distinct on set semantics.
        val next = adj.join(frontier, adj("src") === frontier("node"))
          .select(col("dst").as("node"))
          .join(visited.select("node"), Seq("node"), "left_anti")
          .distinct()
          .localCheckpoint(true)
        hops :+= next
        visited = visited.unionByName(
          next.withColumn("hop", lit(h.toLong)))
        frontier = next
      }
      (visited.groupBy("hop").agg(count(lit(1)).as("nodes")).orderBy("hop"),
        adj +: hops)
    }
  }

  /** Connected components of the SEASONAL co-purchase graph (H1-1995
    * shipments): the full-corpus graph is one dense component, but a
    * merchandising view over a season is sparse — here ~650 edges /
    * ~850 nodes / ~250 components at sf0.01 — and the component size
    * histogram is the classic assortment-structure report. Spark side
    * runs the O(log n) large-star/small-star contraction
    * (graft.operators.ConnectedComponents — edge-keyed shuffles, no
    * per-node adjacency materialization, the path that survives long
    * chains AND 100 TB edge lists); the oracle labels components by
    * recursive reachability + min — an independent mechanism. Output
    * is the histogram (size, n_components): bounded by the largest
    * component, never node-sized. The window filter is pushed into
    * the parquet scan on both engines. */
  val qGraphComponents = Q(
    "q_graph_components",
    """WITH RECURSIVE
      |li AS (SELECT l_orderkey, l_partkey FROM lineitem
      |       WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      |         AND l_shipdate <  TIMESTAMP '1995-07-01 00:00:00'
      |       GROUP BY 1, 2),
      |e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |                         AND a.l_partkey < b.l_partkey),
      |edges AS (SELECT u AS a, v AS b FROM e
      |          UNION ALL SELECT v, u FROM e),
      |reach(src, node) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
      |  UNION
      |  SELECT r.src, e2.b FROM reach r JOIN edges e2 ON e2.a = r.node),
      |lbl AS (SELECT src, min(node) AS comp FROM reach GROUP BY 1),
      |sizes AS (SELECT comp, count(*) AS component_size FROM lbl GROUP BY 1)
      |SELECT component_size, count(*) AS n_components
      |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    // checkpointed (windowedEdges): the contraction consumes its input
    // twice (iteration seed AND isolated-node re-union), and the scan +
    // basket shuffle must run once
    val e = windowedEdges(s, d, "1995-01-01 00:00:00", "1995-07-01 00:00:00")
    finish(
      graft.operators.ConnectedComponents.runStarContraction(e, "u", "v")
        .groupBy(col("lbl")).agg(count(lit(1)).as("component_size"))
        .groupBy("component_size").agg(count(lit(1)).as("n_components"))
        .orderBy("component_size"),
      Seq(e))
  }

  /** Canonical distinct co-purchase edges restricted to a ship-date
    * window, checkpointed — the seasonal twin of [[edges]], shared by
    * the components and k-core keys (both iterate over the frame). */
  private def windowedEdges(s: SparkSession, d: String,
      lo: String, hi: String): DataFrame =
    Baskets.pairs(Baskets.baskets(
        Tables.lineitem(s, d).filter(
          col("l_shipdate") >= lit(lo).cast("timestamp_ntz") &&
            col("l_shipdate") < lit(hi).cast("timestamp_ntz"))), "u", "v")
      .distinct()
      .localCheckpoint(true)

  private val KcoreK = 4

  /** Oracle chain length AND the Spark loop cap: a cascade needing more
    * rounds would silently diverge between an exact-fixpoint engine and
    * a fixed-chain oracle, so Spark FAILS LOUDLY past this cap instead
    * (observed fixpoints: 5/6/7 rounds at sf0.001/0.01/0.1 — margin
    * 2x+; extra oracle rounds are no-ops because peeling is monotone). */
  private val KcoreMaxRounds = 16

  /** Oracle-side chained peel: each round recomputes degrees over the
    * surviving edges and drops sub-k nodes. MATERIALIZED is load-bearing
    * — each round references its predecessor ~4 times, and DuckDB's
    * default CTE inlining would expand the chain exponentially (the
    * un-hinted form exhausts file handles re-opening the parquet). The
    * chain length is [[KcoreMaxRounds]] — the SAME bound the Spark loop
    * enforces, so the engines can never silently disagree past it. */
  private val kcoreOracleSql: String = {
    val head =
      """WITH li AS MATERIALIZED (
        |  SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
        |  GROUP BY 1, 2),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                     AND a.l_partkey < b.l_partkey)""".stripMargin
    val rounds = (1 to KcoreMaxRounds).map { i =>
      val p = s"e${i - 1}"
      s"""d$i AS MATERIALIZED (SELECT node, count(*) AS dg FROM
         |  (SELECT u AS node FROM $p UNION ALL SELECT v FROM $p) t GROUP BY 1),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE dg >= $KcoreK),
         |e$i AS MATERIALIZED (SELECT u, v FROM $p
         |  WHERE u IN (SELECT node FROM k$i)
         |    AND v IN (SELECT node FROM k$i))""".stripMargin
    }
    (Seq(head) ++ rounds).mkString("", ",\n", ",\n") +
      s"""core AS (SELECT node, count(*) AS core_degree FROM
         |  (SELECT u AS node FROM e$KcoreMaxRounds
         |   UNION ALL SELECT v FROM e$KcoreMaxRounds) t GROUP BY 1)
         |SELECT node, core_degree FROM core
         |ORDER BY core_degree DESC, node LIMIT 20""".stripMargin
  }

  /** K-core decomposition of the 1995 co-purchase graph (k = 4): the
    * dense interaction core that survives iterated peeling of sub-k
    * nodes — the assortment-curation primitive (the full-corpus graph
    * is uniformly dense, so the seasonal year view is where a core is
    * non-trivial: 34 nodes at sf0.01, 261 at sf0.1, empty at sf0.001).
    * The k-core is ORDER-INDEPENDENT (unique fixpoint), so both
    * engines converge to the same set. Spark peels to the fixpoint —
    * per round one degree agg + two semi-joins, edges checkpointed so
    * each round reads a materialized frame (and the superseded frame's
    * blocks freed immediately), round count observed ≤ 7 at every
    * scale; the per-round driver read is a 1-scalar count, never data.
    * Both engines share the [[KcoreMaxRounds]] bound: the oracle chain
    * is that long and Spark REFUSES (require) past it rather than
    * silently diverging from a fixed-length oracle. Output: top-20
    * core members by in-core degree. */
  val qGraphKcore = Q("q_graph_kcore", kcoreOracleSql) { (s, d) =>
    var e = windowedEdges(s, d, "1995-01-01 00:00:00", "1996-01-01 00:00:00")
    var edgeCount = e.count()
    var stable = edgeCount == 0L
    var round = 0
    while (!stable && round < KcoreMaxRounds) {
      val deg = degrees(symmetrize(e))
      val keep = deg.filter(col("degree") >= KcoreK).select("node")
      val ne = e
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
        .localCheckpoint(true)
      val nc = ne.count()
      // the superseded round frame is dead — free its blocks now
      // instead of waiting for the ContextCleaner
      GateMemo.unpersistCheckpoint(e)
      stable = nc == edgeCount
      e = ne
      edgeCount = nc
      round += 1
    }
    require(stable,
      s"k-core peel did not converge within $KcoreMaxRounds rounds — " +
        "raise KcoreMaxRounds (oracle chain + Spark cap move together)")
    finish(
      degrees(symmetrize(e))
        .select(col("node"), col("degree").as("core_degree"))
        .orderBy(col("core_degree").desc, col("node"))
        .limit(20),
      Seq(e))
  }

  /** Test-only handle on the edge derivation (GraphsSpec equivalence). */
  private[graft] def edgesForTest(s: SparkSession, d: String): DataFrame =
    edges(s, d)

  /** Test-only LAZY plans (pre-[[finish]]) for the plan-pin specs: the
    * registered keys return a materialized RDD scan, so pins on join
    * strategy / top-k fusion must read the build's own plan. Leaks the
    * build's checkpointed frames (callers are tests, session-scoped). */
  private[graft] def lazyBuild(name: String, s: SparkSession, d: String): DataFrame =
    name match {
      case "q_graph_degree" => degreeBuild(s, d)._1
      case "q_graph_jaccard" => jaccardBuild(s, d)._1
      case "q_graph_ppr" => pprBuild(s, d)._1
      case "q_graph_ppr_batch" => pprBatchBuild(s, d)._1
      case "q_graph_link_predict" => linkPredictBuild(s, d)._1
      case "q_graph_pagerank" => pagerankBuild(s, d)._1
      case "q_graph_pagerank_weighted" => pagerankWeightedBuild(s, d)._1
      case "q_graph_triangles" => trianglesBuild(s, d)._1
      case other => sys.error(s"no lazy build for $other")
    }

  val all: Seq[Q] =
    Seq(qGraphDegree, qGraphJaccard, qGraphLinkPredict, qGraphPagerank,
      qGraphPagerankWeighted, qGraphPpr, qGraphPprBatch, qGraphTriangles,
      qGraphReach, qGraphComponents, qGraphKcore)
}
