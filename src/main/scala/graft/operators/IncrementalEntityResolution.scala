package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.SnapshotStore

/** Incremental ENTITY RESOLUTION — the day-2 half of
  * `q_entity_resolution`: arriving name batches are resolved against
  * everything ever ingested WITHOUT re-blocking the historical
  * vocabulary or relabeling historical clusters. Completes the
  * maintained-artifact family's coverage of the fuzzy surface (exact
  * dedup, near-dup bands, embedding cells, graph edges, BM25 postings —
  * and now entity clusters).
  *
  * THE HARD PART a naive design gets wrong: a new edge can MERGE two
  * existing clusters, and rewriting every member's label is
  * affected-cluster-MEMBER-bounded — a hub cluster at corpus scale
  * makes one tiny batch pay a giant relabel. This design never
  * relabels history. It is distributed union-find with lazy path
  * compression:
  *
  *   - `labels` (SnapshotStore, key = name): name → the root assigned
  *     AT INGEST TIME. One row per name ever seen; later merges never
  *     rewrite other names' rows (a RE-ARRIVING name's own row may
  *     compact forward — see the replay paragraph).
  *   - `fwd` (SnapshotStore, key = src): a FORWARDING table — when a
  *     batch merges components whose previous roots were r₁..rₖ with
  *     new root m, it writes (rᵢ → m) for rᵢ ≠ m. Row count is
  *     bounded by CLUSTER MERGES EVER, not members — vocabulary-scale
  *     tiny.
  *   - resolution = follow the forwarding chain: every fwd row points
  *     STRICTLY DOWN (m is its component's minimum, so dst < src
  *     lexicographically), so chains are acyclic and strictly
  *     decreasing — the follow loop provably terminates. Chains grow
  *     only when merges cascade across batches; a periodic fold (read
  *     `resolved()`, rewrite labels with final roots, start an empty
  *     fwd) is the path-compression analog of the graph stores'
  *     log-fold, and reads stay correct without it.
  *   - `name_index`: parquet partitioned by name LENGTH, append-only
  *     between folds (a fold rewrites it from the deduped labels key
  *     set — stage-then-swap — so replay-duplicated appends cannot
  *     amplify read I/O forever) —
  *     the banded-blocking index. A batch name of length L reads only
  *     the [L−maxDist, L+maxDist] partitions (edit distance ≥ length
  *     difference, the q_fuzzy_match lossless band), so candidate
  *     lookup is band-pruned, never vocabulary-scan. Within the pruned
  *     read, the candidate JOIN auto-dispatches via
  *     [[FuzzyBlocking.pairs]] — a fixed-width vocabulary (where the
  *     length prune degenerates to one partition) flips to pigeonhole
  *     segment blocking, so compute stays linear even when the prune
  *     reads most of the index; the residual I/O is vocabulary-sized,
  *     which at any corpus scale is dwarfed by the corpus itself.
  *     MEASURED (SCALING.md "ER name-index I/O"): at a
  *     fully degenerate single-length vocabulary, batch cost is FLAT
  *     at 4× history — index I/O does not dominate, so the
  *     (seg_id, segment-hash)-bucketed layout once floated as the next
  *     notch stays deliberately unbuilt.
  *
  * Per-batch cost: band-pruned index read + pair-bounded levenshtein +
  * a merge-graph CC over (batch names ∪ matched roots) — affected
  * components only — + batch-bounded label rows + merge-bounded fwd
  * rows. Nothing is member-bounded.
  *
  * CRASH / REPLAY (at-least-once ingest contract, same stance as
  * [[IncrementalNearDup]]): the index append lands FIRST — index rows
  * without labels are ignored by the lookup (inner join against
  * labels), while labels without index rows would be permanently
  * invisible to future batches, so the conservative order is
  * index-first. A replayed batch self-matches against its own indexed
  * names, resolves them to the CURRENT root m, and recomputes label
  * rows (min over the component ∪ {m} = m) and an empty fwd delta.
  * For the latest batch this is an exact content no-op (gate-pinned);
  * replaying an OLDER batch after further merges rewrites that batch's
  * own label rows from their ingest-time root to the current root —
  * i.e. it acts as incidental path compression, which preserves every
  * invariant (resolution unchanged, roots still self-labeled, chains
  * still strictly decreasing) without being byte-identical history.
  * Duplicate index appends collapse in the lookup's distinct.
  */
object IncrementalEntityResolution {

  private def idxDir(erDir: String) = s"$erDir/name_index"
  private def labelsDir(erDir: String) = s"$erDir/labels"
  private def fwdDir(erDir: String) = s"$erDir/fwd"

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** maxDist is pinned at first ingest (a different band width would
    * silently miss cross-batch pairs — stored wins, mismatch fails). */
  private def pinMaxDist(spark: SparkSession, erDir: String,
      maxDist: Int): Int = {
    val (fs, _) = fsOf(spark, erDir)
    val marker = new org.apache.hadoop.fs.Path(erDir, "_maxdist")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val stored =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toInt
        finally in.close()
      require(stored == maxDist,
        s"ER index at $erDir was built with maxDist=$stored; ingest called " +
          s"with $maxDist — a different band width would silently miss pairs")
      stored
    } else {
      fs.mkdirs(new org.apache.hadoop.fs.Path(erDir))
      val out = fs.create(marker, true)
      try out.write(maxDist.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      maxDist
    }
  }

  private def emptyPairs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String)].toDF("name", "root")
  }

  private def readLabels(spark: SparkSession, erDir: String): DataFrame =
    if (SnapshotStore.currentManifest(spark, labelsDir(erDir)).isEmpty)
      emptyPairs(spark)
    else SnapshotStore.read(spark, labelsDir(erDir)).select("name", "root")

  private def readFwd(spark: SparkSession, erDir: String): DataFrame =
    if (SnapshotStore.currentManifest(spark, fwdDir(erDir)).isEmpty)
      emptyPairs(spark).select(col("name").as("src"), col("root").as("dst"))
    else SnapshotStore.read(spark, fwdDir(erDir)).select("src", "dst")

  /** Follow the forwarding chain for `frame`'s `rootCol` values:
    * returns `frame` with `rootCol` replaced by its fully-resolved
    * root. Terminates because every fwd row points strictly down
    * (dst < src); rounds = longest chain, which only cross-batch merge
    * cascades grow (and a fold resets to ≤ 1). The fwd frame is
    * vocabulary-merge-bounded — AQE broadcasts the probe join. */
  private def follow(frame: DataFrame, rootCol: String,
      fwd: DataFrame): DataFrame =
    followCore(frame, rootCol, fwd)._1

  /** Like [[follow]] but also returns the CHECKPOINT backing the result
    * (when any hop happened) so internal callers can free it once the
    * result is consumed — unpersisting a projection over a checkpoint is
    * a silent no-op, so the raw checkpointed frame must travel
    * alongside (the finish/spent pattern). Intermediate hop checkpoints
    * are freed here as soon as the next hop materializes.
    *
    * The iteration bound is DERIVED, not a constant: a chain visits each
    * fwd row at most once (roots strictly decrease, so no row repeats),
    * so `fwd.count() + 1` hops is a hard ceiling for any WELL-FORMED
    * store no matter how many cross-batch cascades accumulated between
    * folds. (A fixed cap here once made ~cap legal cascades
    * unrecoverable through the public API — every cascade grows the
    * longest chain by one, and resolved()/ingest()/fold() all follow
    * chains.) Exceeding the derived bound is only possible if the store
    * holds a CYCLE, which the strictly-decreasing write invariant rules
    * out — the error says so instead of misdiagnosing a legal state. */
  private def followCore(frame: DataFrame, rootCol: String,
      fwd: DataFrame): (DataFrame, Option[DataFrame]) = {
    val f = fwd.select(col("src").as("__fsrc"), col("dst").as("__fdst"))
    val maxIter = fwd.count() + 1
    var cur = frame
    var curCk: Option[DataFrame] = None
    var moved = true
    var i = 0L
    while (moved && i < maxIter) {
      val step = cur.join(f, cur(rootCol) === col("__fsrc"), "left")
        .select(cur.columns.filter(_ != rootCol).map(cur(_)) :+
          coalesce(col("__fdst"), cur(rootCol)).as(rootCol) :+
          col("__fdst").isNotNull.as("__moved"): _*)
        .localCheckpoint(true)
      moved = step.filter(col("__moved")).limit(1).count() > 0
      curCk.foreach(graft.queries.GateMemo.unpersistCheckpoint)
      curCk = Some(step)
      cur = step.drop("__moved")
      i += 1
    }
    if (moved) throw new IllegalStateException(
      s"forwarding chain still moving after $maxIter hops (= fwd rows " +
        "+ 1): the fwd store holds a cycle, which the strictly-" +
        "decreasing dst < src write invariant rules out — store corrupted")
    (cur, curCk)
  }

  /** Candidate pairs between `left` (col `a`) and `right` (col `b`) —
    * the shared [[FuzzyBlocking]] auto-dispatch (banded for spread
    * lengths, pigeonhole segments once a band would hold thousands:
    * the batch-vs-history lookup hits exactly that regime on
    * fixed-width vocabularies). */
  private def bandJoin(left: DataFrame, right: DataFrame,
      maxDist: Int): DataFrame =
    FuzzyBlocking.pairs(left, right, maxDist).select("a", "b")

  /** Ingest one batch of names: index them, match them against history
    * through the band-pruned index, merge affected components, and
    * write batch-bounded labels + merge-bounded forwarding rows.
    *
    * `autoFoldDepth` is the self-triggering maintenance policy the
    * other maintained artifacts carry (`SignedCells.drain`): when
    * a batch's merges push the longest forwarding chain PAST the
    * budget, the ingest folds its own store before returning — read
    * amplification stays bounded at ~budget broadcast probes per
    * resolution with no runbook, for one labels-scan rebuild every
    * ~budget cascading batches. The gauge runs only on batches that
    * actually wrote forwarding rows (merge-free batches cannot deepen a
    * chain). */
  def ingest(spark: SparkSession, erDir: String, batch: DataFrame,
      nameCol: String, maxDist: Int = 2, numBuckets: Int = 16,
      autoFoldDepth: Option[Int] = None): Unit = {
    import spark.implicits._
    autoFoldDepth.foreach(d => require(d >= 1,
      s"autoFoldDepth must be >= 1, got $d"))
    recoverIndexSwap(spark, erDir)
    val md = pinMaxDist(spark, erDir, maxDist)
    val names = batch.select(col(nameCol).as("name")).distinct()
      .filter(col("name").isNotNull)
      .localCheckpoint(true)
    try {
      // 1. index FIRST (see the object doc's crash-order argument)
      names.withColumn("len", length(col("name")))
        .write.mode("append").partitionBy("len").parquet(idxDir(erDir))
      // 2. band-pruned history lookup: only the batch's ±md length
      //    partitions are read (length vocabulary is tiny — a driver
      //    list, not a data-sized collect)
      val lens = names.select(length(col("name")).as("l")).distinct()
        .collect().map(_.getInt(0))
      val needed = lens.flatMap(l => (l - md) to (l + md)).distinct.toSeq
      val hist = spark.read.parquet(idxDir(erDir))
        .filter(col("len").isin(needed: _*))
        .select(col("name")).distinct()
      // 3. history matches resolve to their CURRENT roots (labels are
      //    ingest-time roots; fwd closes later merges). Inner join:
      //    index rows without labels are crash residue, skipped until
      //    the replay that labels them.
      val labels0 = readLabels(spark, erDir)
      val fwd0 = readFwd(spark, erDir).localCheckpoint(true)
      val bh = bandJoin(
        names.select(col("name").as("a")),
        hist.select(col("name").as("b")), md)
        .join(labels0.withColumnRenamed("name", "b"), "b")
        .select(col("a").as("n"), col("root"))
        .localCheckpoint(true)
      // resolve matched ingest-time roots to their CURRENT roots:
      // follow() rewrites the column in place, so carry the original
      // alongside for the join back
      val (followed, followCk) = followCore(
        bh.select(col("root").as("orig"), col("root")).distinct(),
        "root", fwd0)
      val rootsBoth = followed.select(col("orig"), col("root").as("cur"))
        .localCheckpoint(true)
      followCk.foreach(graft.queries.GateMemo.unpersistCheckpoint)
      val bhEdges = bh.join(rootsBoth, bh("root") === rootsBoth("orig"))
        .select(col("n").as("a"), col("cur").as("b"))
      // 4. in-batch pairs (canonical a < b)
      val bb = bandJoin(names.select(col("name").as("a")),
          names.select(col("name").as("b")), md)
        .filter(col("a") < col("b"))
      // 5. merge graph over batch names ∪ resolved roots — affected
      //    components only; strings are labels (least() just orders)
      val edges = bb.unionByName(bhEdges.select("a", "b")).distinct()
        .localCheckpoint(true)
      val cc = ConnectedComponents.auto(edges, "a", "b")
      val batchLabels = names
        .join(cc.withColumnRenamed("node", "name"), Seq("name"), "left")
        .select(col("name"), coalesce(col("lbl"), col("name")).as("root"))
      SnapshotStore.merge(spark, labelsDir(erDir), batchLabels,
        Seq("name"), numBuckets)
      // 6. forwarding rows for previous roots the batch merged away
      val fwdRows = rootsBoth.select(col("cur").as("node")).distinct()
        .join(cc, "node")
        .filter(col("node") =!= col("lbl"))
        .select(col("node").as("src"), col("lbl").as("dst"))
      val merged = !fwdRows.isEmpty
      if (merged)
        SnapshotStore.merge(spark, fwdDir(erDir), fwdRows,
          Seq("src"), numBuckets)
      Seq(edges, fwd0, bh, rootsBoth)
        .foreach(graft.queries.GateMemo.unpersistCheckpoint)
      if (merged) autoFoldDepth.foreach { budget =>
        if (chainDepth(spark, erDir) > budget) fold(spark, erDir, numBuckets)
      }
    } finally graft.queries.GateMemo.unpersistCheckpoint(names)
  }

  /** Every name ever ingested with its fully-resolved root — the frame
    * a full `q_entity_resolution`-style rebuild computes from scratch.
    * One labels scan + chain-length broadcast probes.
    *
    * The returned frame is backed by a localCheckpoint the CALLER
    * cannot free (it only sees a projection — the unpersist pitfall
    * followCore documents); long-lived sessions making many resolution
    * reads should prefer [[resolvedCore]] and free the spent frame once
    * the result is consumed. */
  def resolved(spark: SparkSession, erDir: String): DataFrame =
    resolvedCore(spark, erDir)._1

  /** [[resolved]] plus the checkpoint backing it (always present —
    * follow runs ≥ 1 hop), the finish/spent pattern: consume the
    * frame, then `GateMemo.unpersistCheckpoint` the spent one. */
  private[graft] def resolvedCore(spark: SparkSession,
      erDir: String): (DataFrame, Option[DataFrame]) = {
    val fwd = readFwd(spark, erDir)
    followCore(readLabels(spark, erDir), "root", fwd)
  }

  /** Golden records served from the maintained ER artifacts — the exact
    * frame `q_entity_resolution` computes live from scratch
    * (canonical_name, n_names, n_parts, min_price_cents, members), with
    * the blocking/clustering work NEVER re-run: cluster membership
    * comes from [[resolved]] (one labels scan + chain-bounded broadcast
    * probes), restricted to multi-member clusters (the live key's pair
    * graph covers exactly the names with ≥ 1 match — a singleton
    * resolves to itself and never enters it). `source` (the row-sized
    * table, e.g. `part`) joins the match-bounded label frame BROADCAST,
    * so the only corpus-sized work is one map-side scan — the same seam
    * the live key uses, minus the vocabulary-quadratic front half.
    * `measureCents` is the golden attribute to repair (min over the
    * cluster), already cast to exact integer cents by the caller. */
  def goldenRecords(spark: SparkSession, erDir: String, source: DataFrame,
      nameCol: String, measureCents: org.apache.spark.sql.Column): DataFrame =
    goldenRecordsCore(spark, erDir, source, nameCol, measureCents)

  /** [[goldenRecords]], where the returned frame IS the (cluster-
    * bounded) localCheckpoint backing it — the finish/spent pattern:
    * callers making repeated reads in a long-lived session should
    * `GateMemo.unpersistCheckpoint` the frame once consumed, or the
    * checkpoint blocks accumulate per call (round-16 advice). */
  private[graft] def goldenRecordsCore(spark: SparkSession, erDir: String,
      source: DataFrame, nameCol: String,
      measureCents: org.apache.spark.sql.Column): DataFrame = {
    val (res, spent) = resolvedCore(spark, erDir)
    val out = try {
      val multi = res.groupBy("root").agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= 2).select("root")
      // match-bounded: rows = members of merged clusters only
      val labels = res.join(multi, "root")
      val clusters = labels.groupBy(col("root").as("canonical_name"))
        .agg(count(lit(1)).as("n_names"),
          array_join(array_sort(collect_list(col("name"))), "|").as("members"))
      val golden = source
        .join(broadcast(labels.select(col("name").as(nameCol), col("root"))),
          Seq(nameCol))
        .groupBy(col("root").as("canonical_name"))
        .agg(count(lit(1)).as("n_parts"),
          min(measureCents).as("min_price_cents"))
      clusters.join(golden, "canonical_name")
        .select("canonical_name", "n_names", "n_parts", "min_price_cents",
          "members")
        .orderBy("canonical_name")
        // eager + cluster-bounded: materializing the small output lets
        // the resolution checkpoint be freed before returning
        .localCheckpoint(true)
    } finally spent.foreach(graft.queries.GateMemo.unpersistCheckpoint)
    out
  }

  /** Longest forwarding chain — the read-amplification gauge a fold
    * resets (0 = no merges pending compaction). */
  def chainDepth(spark: SparkSession, erDir: String): Int = {
    val fwd = readFwd(spark, erDir).localCheckpoint(true)
    val f = fwd.select(col("src").as("__fsrc"), col("dst").as("__fdst"))
    try {
      var depth = 0
      var frontier = fwd.select(col("src"), col("dst").as("cur"))
      var frontierCk: Option[DataFrame] = None
      var more = frontier.limit(1).count() > 0
      val bound = fwd.count() + 1 // same derived ceiling as followCore
      while (more) {
        depth += 1
        val next = frontier.join(f, frontier("cur") === col("__fsrc"))
          .select(col("src"), col("__fdst").as("cur"))
          .localCheckpoint(true)
        frontierCk.foreach(graft.queries.GateMemo.unpersistCheckpoint)
        frontierCk = Some(next)
        frontier = next
        more = frontier.limit(1).count() > 0
        if (depth > bound) throw new IllegalStateException(
          s"forwarding chain still moving after $bound hops (= fwd rows " +
            "+ 1) — cycle in the fwd store; see followCore()'s invariant")
      }
      frontierCk.foreach(graft.queries.GateMemo.unpersistCheckpoint)
      depth
    } finally graft.queries.GateMemo.unpersistCheckpoint(fwd)
  }

  /** Complete a crashed [[fold]] index swap (the one window where the
    * live index dir is absent: between the two renames). The staged
    * index is complete iff Spark's job-commit `_SUCCESS` marker exists —
    * an incomplete stage (crash mid-write) is left for the next fold's
    * overwrite, and the live dir is still intact in that window. Also
    * sweeps `__fold_old` debris (crash after the second rename). Every
    * ingest and fold calls this first, so the index is always readable
    * after any single-crash history — same discipline as
    * `VersionDrain.recoverFold`. */
  private def recoverIndexSwap(spark: SparkSession, erDir: String): Unit = {
    val (fs, _) = fsOf(spark, erDir)
    val idx = new org.apache.hadoop.fs.Path(idxDir(erDir))
    val stage = new org.apache.hadoop.fs.Path(idxDir(erDir) + "__fold_stage")
    val old = new org.apache.hadoop.fs.Path(idxDir(erDir) + "__fold_old")
    val stageComplete =
      fs.exists(new org.apache.hadoop.fs.Path(stage, "_SUCCESS"))
    if (!fs.exists(idx) && stageComplete) {
      if (!fs.rename(stage, idx)) throw new java.io.IOException(
        s"ER index swap recovery failed: $stage -> $idx")
    }
    if (fs.exists(old) && fs.exists(idx)) fs.delete(old, true)
  }

  /** Path-compression fold: rewrite every label with its resolved root,
    * compact the name index, and drop all forwarding rows (chains reset
    * to 0). Labels-scan bounded — the union-find analog of the graph
    * stores' log-fold, with the same stage-then-swap discipline handled
    * by the SnapshotStore merge (labels), a staged directory swap (the
    * index), and a directory delete (fwd).
    *
    * The index rewrite is what bounds read I/O across at-least-once
    * replays: ingest appends are append-only, so every replay
    * re-appends its batch's rows and reads stay correct only through
    * the lookup's distinct — without compaction the index's SIZE (and
    * every batch's band-pruned read) amplifies forever. Rebuilding from
    * the deduped labels key set resets the index to exactly one row per
    * name ever labeled; crash-residue index rows (indexed but never
    * labeled) are dropped, which is safe because their batch's replay
    * re-appends them before it labels them (the index-first crash
    * order). */
  def fold(spark: SparkSession, erDir: String, numBuckets: Int = 16): Unit = {
    // a store that was never ingested has nothing to compact (and an
    // empty merge would create a hollow labels snapshot)
    if (SnapshotStore.currentManifest(spark, labelsDir(erDir)).isEmpty) return
    recoverIndexSwap(spark, erDir)
    // resolvedCore's frame is already checkpoint-backed (finish/spent) —
    // a second localCheckpoint here would just leak a duplicate
    val (res, spent) = resolvedCore(spark, erDir)
    try {
      SnapshotStore.merge(spark, labelsDir(erDir), res,
        Seq("name"), numBuckets)
      // index compaction: one row per labeled name, staged then swapped
      // (recoverIndexSwap completes a crashed swap; `_SUCCESS` gates it)
      val (fs, _) = fsOf(spark, erDir)
      val idx = new org.apache.hadoop.fs.Path(idxDir(erDir))
      val stage = new org.apache.hadoop.fs.Path(idxDir(erDir) + "__fold_stage")
      val old = new org.apache.hadoop.fs.Path(idxDir(erDir) + "__fold_old")
      res.select(col("name")).withColumn("len", length(col("name")))
        .write.mode("overwrite").partitionBy("len").parquet(stage.toString)
      if (fs.exists(idx) && !fs.rename(idx, old))
        throw new java.io.IOException(s"ER index swap failed: $idx -> $old")
      if (!fs.rename(stage, idx)) throw new java.io.IOException(
        s"ER index swap failed: $stage -> $idx (complete index at $stage)")
      fs.delete(old, true)
      // fwd rows are now redundant: every label IS its resolved root.
      // Dropping the store is safe at any crash point — a surviving fwd
      // dir only re-forwards roots the labels no longer hold (src rows
      // that no label references resolve nothing).
      fs.delete(new org.apache.hadoop.fs.Path(fwdDir(erDir)), true)
    } finally spent.foreach(graft.queries.GateMemo.unpersistCheckpoint)
  }
}
