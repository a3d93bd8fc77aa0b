package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computable contracts of the log-structured co-purchase edge
  * store: signed delta maintenance, per-batchId idempotence, net-zero
  * and fully-deleted edge handling, and the update-row refusal. The
  * end-to-end CDC arrival path (lineitem store → feed → maintainFromCdc
  * → rebuild equality, replay no-op) is driver-pinned by
  * `q_gate_graph_edges_incremental`. */
class GraphEdgeStoreSpec extends AnyFunSuite {
  import SparkTestSession._
  import streaming.GraphEdgeStore

  private def li(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("l_orderkey", "l_partkey")
  }

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_edgestore").toString

  private def edgeSet(dir: String): Set[(Long, Long, Long)] =
    GraphEdgeStore.edges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("build + edges reproduces the weighted pair derivation") {
    val dir = freshDir()
    // orders: 1:{10,20,30}, 2:{10,20} — pair (10,20) w=2, others w=1
    val corpus = li((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L), (2L, 20L))
    GraphEdgeStore.build(spark, dir, corpus)
    assert(edgeSet(dir) ==
      Set((10L, 20L, 2L), (10L, 30L, 1L), (20L, 30L, 1L)))
  }

  test("insert and delete deltas adjust weights; zeroed edges vanish") {
    val dir = freshDir()
    GraphEdgeStore.build(spark, dir, li((1L, 10L), (1L, 20L)))
    // batch 0: insert order 3:{10,20} -> weight 2
    GraphEdgeStore.ingestBatch(spark, dir,
      li((3L, 10L), (3L, 20L)).withColumn("change_type", lit("insert")), 0L)
    assert(edgeSet(dir) == Set((10L, 20L, 2L)))
    // batch 1: cancel order 1 -> weight back to 1
    GraphEdgeStore.ingestBatch(spark, dir,
      li((1L, 10L), (1L, 20L)).withColumn("change_type", lit("delete")), 1L)
    assert(edgeSet(dir) == Set((10L, 20L, 1L)))
    // batch 2: cancel order 3 -> edge fully deleted, dropped from reads
    GraphEdgeStore.ingestBatch(spark, dir,
      li((3L, 10L), (3L, 20L)).withColumn("change_type", lit("delete")), 2L)
    assert(edgeSet(dir).isEmpty)
  }

  test("a batch whose inserts and deletes net to zero writes nothing") {
    val dir = freshDir()
    GraphEdgeStore.build(spark, dir, li((1L, 10L), (1L, 20L)))
    val v0 = streaming.SnapshotStore.currentManifest(spark, dir).map(_.version)
    // order 5 arrives and order 1 cancels in one batch: pair (10,20)
    // nets 0 — the delta frame is empty and no version is committed
    GraphEdgeStore.ingestBatch(spark, dir,
      li((5L, 10L), (5L, 20L)).withColumn("change_type", lit("insert"))
        .unionByName(
          li((1L, 10L), (1L, 20L)).withColumn("change_type", lit("delete"))),
      0L)
    assert(streaming.SnapshotStore.currentManifest(spark, dir)
      .map(_.version) == v0)
    assert(edgeSet(dir) == Set((10L, 20L, 1L)))
    // an insert and a delete of the same order: no version either
    val order = li((7L, 10L), (7L, 30L))
    GraphEdgeStore.ingestBatch(spark, dir,
      order.withColumn("change_type", lit("insert"))
        .unionByName(order.withColumn("change_type", lit("delete"))), 1L)
    assert(streaming.SnapshotStore.currentManifest(spark, dir)
      .map(_.version) == v0)
    assert(edgeSet(dir) == Set((10L, 20L, 1L)))
  }

  test("replaying a batchId is a no-op (log-structured version key)") {
    val dir = freshDir()
    GraphEdgeStore.build(spark, dir, li((1L, 10L), (1L, 20L)))
    val batch = li((4L, 10L), (4L, 20L), (4L, 30L))
      .withColumn("change_type", lit("insert"))
    GraphEdgeStore.ingestBatch(spark, dir, batch, 7L)
    val once = edgeSet(dir)
    GraphEdgeStore.ingestBatch(spark, dir, batch, 7L)
    assert(edgeSet(dir) == once)
    assert(once == Set((10L, 20L, 2L), (10L, 30L, 1L), (20L, 30L, 1L)))
  }

  private def degSet(dir: String): Set[(Long, Long)] =
    GraphEdgeStore.degrees(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("buildWithDegrees writes hand-computable degrees; topHubs orders them") {
    val (eDir, dDir) = (freshDir(), freshDir())
    // orders 1:{10,20,30}, 2:{10,20}, 3:{10,40}
    // edges: 10-20(w2), 10-30, 20-30, 10-40 -> deg 10:3, 20:2, 30:2, 40:1
    GraphEdgeStore.buildWithDegrees(spark, eDir, dDir,
      li((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L), (2L, 20L), (3L, 10L), (3L, 40L)))
    assert(degSet(dDir) == Set((10L, 3L), (20L, 2L), (30L, 2L), (40L, 1L)))
    assert(GraphEdgeStore.topHubs(spark, dDir, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((10L, 3L), (20L, 2L), (30L, 2L))) // degree desc, node tie-break
  }

  test("degree deltas fire only on zero crossings, in both directions") {
    val (eDir, dDir) = (freshDir(), freshDir())
    GraphEdgeStore.buildWithDegrees(spark, eDir, dDir, li((1L, 10L), (1L, 20L)))
    // batch 0: order 2:{10,20} re-strengthens the existing edge — weight
    // 2 but NO crossing, so degrees are untouched (and no degree
    // version is committed)
    val v0 = streaming.SnapshotStore.currentManifest(spark, dDir).map(_.version)
    GraphEdgeStore.ingestBatchWithDegrees(spark, eDir, dDir,
      li((2L, 10L), (2L, 20L)).withColumn("change_type", lit("insert")), 0L)
    assert(degSet(dDir) == Set((10L, 1L), (20L, 1L)))
    assert(streaming.SnapshotStore.currentManifest(spark, dDir)
      .map(_.version) == v0)
    // batch 1: order 3:{10,30} crosses a NEW edge into existence
    GraphEdgeStore.ingestBatchWithDegrees(spark, eDir, dDir,
      li((3L, 10L), (3L, 30L)).withColumn("change_type", lit("insert")), 1L)
    assert(degSet(dDir) == Set((10L, 2L), (20L, 1L), (30L, 1L)))
    // batches 2+3: cancel orders 1 and 2 — edge 10-20 crosses to zero
    // only at the SECOND delete; node 20 drops out entirely
    GraphEdgeStore.ingestBatchWithDegrees(spark, eDir, dDir,
      li((1L, 10L), (1L, 20L)).withColumn("change_type", lit("delete")), 2L)
    assert(degSet(dDir) == Set((10L, 2L), (20L, 1L), (30L, 1L)))
    GraphEdgeStore.ingestBatchWithDegrees(spark, eDir, dDir,
      li((2L, 10L), (2L, 20L)).withColumn("change_type", lit("delete")), 3L)
    assert(degSet(dDir) == Set((10L, 1L), (30L, 1L)))
  }

  test("crash between edge merge and degree merge replays exactly once") {
    val (eDir, dDir) = (freshDir(), freshDir())
    GraphEdgeStore.buildWithDegrees(spark, eDir, dDir, li((1L, 10L), (1L, 20L)))
    val batch = li((4L, 10L), (4L, 30L)).withColumn("change_type", lit("insert"))
    // simulate the crash window: the EDGE merge for batch 5 lands, the
    // degree merge does not
    GraphEdgeStore.ingestBatch(spark, eDir, batch, 5L)
    assert(degSet(dDir) == Set((10L, 1L), (20L, 1L))) // degrees stale
    // redelivery of batch 5 runs the full op: the edge merge is a no-op
    // (version key) and old_w is reconstructed EXCLUDING ver=5, so the
    // crossing is seen exactly once
    GraphEdgeStore.ingestBatchWithDegrees(spark, eDir, dDir, batch, 5L)
    assert(degSet(dDir) == Set((10L, 2L), (20L, 1L), (30L, 1L)))
    // a second redelivery is a content no-op on both stores (the merge
    // replaces the batch's version rows with identical rows; the
    // FEED-level "no batch starts at all" no-op is the streaming
    // checkpoint's job, gate-pinned by q_gate_stream_graph_degree)
    val edgesBefore = edgeSet(eDir)
    GraphEdgeStore.ingestBatchWithDegrees(spark, eDir, dDir, batch, 5L)
    assert(degSet(dDir) == Set((10L, 2L), (20L, 1L), (30L, 1L)))
    assert(edgeSet(eDir) == edgesBefore)
  }

  test("count store: build, signed deltas, idempotence, vanished parts") {
    val cDir = freshDir() + "/counts"
    // orders 1:{10,20}, 2:{10} -> n(10)=2, n(20)=1
    GraphEdgeStore.buildCounts(spark, cDir, li((1L, 10L), (1L, 20L), (2L, 10L)))
    def counts(): Set[(Long, Long)] =
      GraphEdgeStore.partCounts(spark, cDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(counts() == Set((10L, 2L), (20L, 1L)))
    // insert order 3:{20,30}; delete order 2:{10}
    val batch = li((3L, 20L), (3L, 30L)).withColumn("change_type", lit("insert"))
      .unionByName(li((2L, 10L)).withColumn("change_type", lit("delete")))
    GraphEdgeStore.ingestCountsBatch(spark, cDir, batch, 0L)
    assert(counts() == Set((10L, 1L), (20L, 2L), (30L, 1L)))
    // replay the same batchId: identical rows under the same version key
    GraphEdgeStore.ingestCountsBatch(spark, cDir, batch, 0L)
    assert(counts() == Set((10L, 1L), (20L, 2L), (30L, 1L)))
    // delete the last order containing part 10: it leaves the frame
    GraphEdgeStore.ingestCountsBatch(spark, cDir,
      li((1L, 10L), (1L, 20L)).withColumn("change_type", lit("delete")), 1L)
    assert(counts() == Set((20L, 1L), (30L, 1L)))
  }

  test("count store: a batch whose per-part counts net to zero commits no version") {
    val cDir = freshDir() + "/counts"
    GraphEdgeStore.buildCounts(spark, cDir, li((1L, 10L), (2L, 20L)))
    val v0 = streaming.SnapshotStore.currentManifest(spark, cDir).map(_.version)
    // an insert and a delete of the same order: every part nets 0
    GraphEdgeStore.ingestCountsBatch(spark, cDir,
      li((3L, 10L), (3L, 20L)).withColumn("change_type", lit("insert"))
        .unionByName(
          li((3L, 10L), (3L, 20L)).withColumn("change_type", lit("delete"))),
      0L)
    assert(streaming.SnapshotStore.currentManifest(spark, cDir)
      .map(_.version) == v0)
  }

  test("jaccard served from the stores equals the live derivation") {
    val base = freshDir()
    val eDir = s"$base/edges"; val cDir = s"$base/counts"
    // orders: 1:{10,20}, 2:{10,20}, 3:{10,20,30}, 4:{30,40}, 5:{30,40}
    // (the GraphsSpec planted fixture): (10,20) w=3 J=10000,
    // (30,40) w=2 J=6667, w=1 pairs support-filtered
    val corpus = li((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 20L), (3L, 30L), (4L, 30L), (4L, 40L),
      (5L, 30L), (5L, 40L))
    GraphEdgeStore.build(spark, eDir, corpus)
    GraphEdgeStore.buildCounts(spark, cDir, corpus)
    val served = graft.queries.Graphs.jaccardFrom(
        GraphEdgeStore.edges(spark, eDir).select("u", "v", "w"),
        GraphEdgeStore.partCounts(spark, cDir))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("both_orders"), r.getAs[Long]("jaccard_4dp"))).toSeq
    assert(served == Seq((10L, 20L, 3L, 10000L), (30L, 40L, 2L, 6667L)))
  }

  test("a version split across many files is ingested as ONE atomic batch") {
    // THE round-14 regression: the retired file-stream drain
    // (cdcSource, maxFilesPerTrigger=16) cut micro-batches on file
    // boundaries, so a CDC version spanning >16 part files split an
    // order's basket across two batches and lost every cross-fragment
    // pair (562k of 1.196M edges at sf0.1/local[32]). This fixture
    // forces that exact geometry — ONE order whose version is 24 files
    // — and pins incremental == rebuild, which only a version-atomic
    // drain can satisfy.
    import spark.implicits._
    val base = freshDir()
    val cdcDir = s"$base/cdc"; val eDir = s"$base/edges"
    val cDir = s"$base/counts"; val dDir = s"$base/degrees"
    val ckpt = s"$base/ckpt"
    val order = (1 to 24).map(p => (1L, p.toLong))
    order.toDF("l_orderkey", "l_partkey")
      .withColumn("change_type", lit("insert"))
      .repartition(24) // one row per file: 24 files > any per-trigger cap
      .write.parquet(s"$cdcDir/__version=1")
    val nFiles = new java.io.File(s"$cdcDir/__version=1")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles > 16, s"fixture must exceed the old 16-file cap, got $nFiles")
    GraphEdgeStore.maintainFromCdc(spark, cdcDir, eDir, ckpt,
      degreeDir = Some(dDir), countsDir = Some(cDir))
    // all C(24,2)=276 pairs of the single basket, each weight 1 — a
    // split drain would produce only the within-fragment subsets
    val edges = edgeSet(eDir)
    assert(edges.size == 276 && edges.forall(_._3 == 1L))
    assert(degSet(dDir).size == 24 && degSet(dDir).forall(_._2 == 23L))
    assert(GraphEdgeStore.partCounts(spark, cDir).collect()
      .forall(_.getLong(1) == 1L))
    // replay of the drained feed: watermark makes it a store-version no-op
    def vOf(dir: String) =
      streaming.SnapshotStore.currentManifest(spark, dir).map(_.version)
    val (vE, vD, vC) = (vOf(eDir), vOf(dDir), vOf(cDir))
    GraphEdgeStore.maintainFromCdc(spark, cdcDir, eDir, ckpt,
      degreeDir = Some(dDir), countsDir = Some(cDir))
    assert(vOf(eDir) == vE && vOf(dDir) == vD && vOf(cDir) == vC)
    // crash-window simulation: lose the watermark entirely — the full
    // re-drain re-merges identical rows under the same version keys
    // (content no-op on all three stores)
    assert(new java.io.File(s"$ckpt/_version_watermark").delete())
    GraphEdgeStore.maintainFromCdc(spark, cdcDir, eDir, ckpt,
      degreeDir = Some(dDir), countsDir = Some(cDir))
    assert(edgeSet(eDir) == edges)
    assert(degSet(dDir).size == 24 && degSet(dDir).forall(_._2 == 23L))
  }

  test("a retired file-stream checkpoint dir is refused, not resumed") {
    val base = freshDir()
    val cdcDir = s"$base/cdc"; val eDir = s"$base/edges"
    val ckpt = s"$base/ckpt"
    import spark.implicits._
    Seq((1L, 10L)).toDF("l_orderkey", "l_partkey")
      .withColumn("change_type", lit("insert"))
      .write.parquet(s"$cdcDir/__version=1")
    // the old drain's streaming checkpoint layout: an offsets/ dir whose
    // batch ids are micro-batch ordinals, not CDC versions — resuming it
    // at version granularity would double-count under new keys
    assert(new java.io.File(s"$ckpt/offsets").mkdirs())
    val e = intercept[IllegalArgumentException] {
      GraphEdgeStore.maintainFromCdc(spark, cdcDir, eDir, ckpt)
    }
    assert(e.getMessage.contains("fresh checkpoint dir"))
  }

  test("log-fold compacts the version log and floors replay after watermark loss") {
    import spark.implicits._
    val base = freshDir()
    val cdcDir = s"$base/cdc"; val eDir = s"$base/edges"
    val ckpt = s"$base/ckpt"
    def ver(v: Int, rows: Seq[(Long, Long)], ct: String = "insert"): Unit =
      rows.toDF("l_orderkey", "l_partkey")
        .withColumn("change_type", lit(ct))
        .write.parquet(s"$cdcDir/__version=$v")
    GraphEdgeStore.build(spark, eDir, li((1L, 10L), (1L, 20L)))
    ver(1, Seq((2L, 10L), (2L, 20L)))           // strengthens 10-20 to 2
    ver(2, Seq((1L, 10L), (1L, 20L)), "delete") // cancels order 1 -> 1
    GraphEdgeStore.maintainFromCdc(spark, cdcDir, eDir, ckpt)
    assert(edgeSet(eDir) == Set((10L, 20L, 1L)))
    def rawRows(): Long = streaming.SnapshotStore.read(spark, eDir).count()
    assert(rawRows() == 3, "pre-fold: base row + two version deltas")
    GraphEdgeStore.foldEdges(spark, eDir)
    assert(rawRows() == 1, "fold collapses the log to current state")
    assert(edgeSet(eDir) == Set((10L, 20L, 1L)), "served view unchanged")
    assert(streaming.VersionDrain.readFoldedThrough(spark, eDir).contains(2L))
    // THE hazard the marker closes: pre-fold, a lost watermark replayed
    // folded versions as identical-row no-ops; post-fold their rows are
    // GONE and a replay would double count — the folded-through floor
    // must skip them
    assert(new java.io.File(s"$ckpt/_version_watermark").delete())
    GraphEdgeStore.maintainFromCdc(spark, cdcDir, eDir, ckpt)
    assert(edgeSet(eDir) == Set((10L, 20L, 1L)),
      "folded versions must not re-merge")
    // life continues: a post-fold version drains and reads correctly
    ver(3, Seq((3L, 10L), (3L, 30L)))
    GraphEdgeStore.maintainFromCdc(spark, cdcDir, eDir, ckpt)
    assert(edgeSet(eDir) == Set((10L, 20L, 1L), (10L, 30L, 1L)))
    // and a second fold folds the new tail too
    GraphEdgeStore.foldEdges(spark, eDir)
    assert(rawRows() == 2)
    assert(streaming.VersionDrain.readFoldedThrough(spark, eDir).contains(3L))
  }

  test("autoFoldDepth keeps the version log bounded across drains") {
    import spark.implicits._
    val base = freshDir()
    val cdcDir = s"$base/cdc"; val eDir = s"$base/edges"
    val ckpt = s"$base/ckpt"
    def ver(v: Int, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("l_orderkey", "l_partkey")
        .withColumn("change_type", lit("insert"))
        .write.parquet(s"$cdcDir/__version=$v")
    def drain(): Unit = GraphEdgeStore.maintainFromCdc(
      spark, cdcDir, eDir, ckpt, autoFoldDepth = Some(2))
    GraphEdgeStore.build(spark, eDir, li((1L, 10L), (1L, 20L)))
    ver(1, Seq((2L, 10L), (2L, 20L))); drain()
    ver(2, Seq((3L, 10L), (3L, 20L))); drain()
    assert(streaming.VersionDrain.logDepth(spark, eDir,
      streaming.SignedCells.BaseVer) == 2,
      "at the budget: no fold yet")
    assert(streaming.VersionDrain.readFoldedThrough(spark, eDir).isEmpty)
    ver(3, Seq((4L, 10L), (4L, 30L))); drain()
    assert(streaming.VersionDrain.logDepth(spark, eDir,
      streaming.SignedCells.BaseVer) == 0,
      "over the budget: the drain folded its own log")
    assert(streaming.VersionDrain.readFoldedThrough(spark, eDir).contains(3L))
    assert(edgeSet(eDir) == Set((10L, 20L, 3L), (10L, 30L, 1L)),
      "served content unchanged by the auto-fold")
    // and the folded floor still guards a lost watermark
    assert(new java.io.File(s"$ckpt/_version_watermark").delete())
    drain()
    assert(edgeSet(eDir) == Set((10L, 20L, 3L), (10L, 30L, 1L)))
  }

  test("a fold crash between the swap renames self-heals on the next drain") {
    import spark.implicits._
    val base = freshDir()
    val cdcDir = s"$base/cdc"; val eDir = s"$base/edges"
    val ckpt = s"$base/ckpt"
    def ver(v: Int, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("l_orderkey", "l_partkey")
        .withColumn("change_type", lit("insert"))
        .write.parquet(s"$cdcDir/__version=$v")
    GraphEdgeStore.build(spark, eDir, li((1L, 10L), (1L, 20L)))
    ver(1, Seq((2L, 10L), (2L, 20L)))
    GraphEdgeStore.maintainFromCdc(spark, cdcDir, eDir, ckpt)
    GraphEdgeStore.foldEdges(spark, eDir)
    assert(edgeSet(eDir) == Set((10L, 20L, 2L)))
    // reconstruct the exact between-renames crash state: the completed
    // fold's live dir IS what the stage held at the crash (manifest and
    // _folded_through marker were written before any rename) — move it
    // back under the stage name, and plant a __fold_old husk standing
    // in for the pre-fold live dir that rename #1 moved aside
    val live = new java.io.File(eDir)
    val stage = new java.io.File(eDir + "__fold_stage")
    val old = new java.io.File(eDir + "__fold_old")
    assert(live.renameTo(stage))
    assert(old.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(old, "junk").toPath, "pre-fold husk")
    // the live dir is GONE — the hazard recoverFold closes is the next
    // drain silently rebuilding a fresh store without the folded
    // history; instead it must complete the crashed swap FIRST
    ver(2, Seq((3L, 10L), (3L, 30L)))
    GraphEdgeStore.maintainFromCdc(spark, cdcDir, eDir, ckpt)
    assert(edgeSet(eDir) == Set((10L, 20L, 2L), (10L, 30L, 1L)),
      "recovered store must serve the folded history plus the new version")
    assert(!stage.exists, "stage renamed to live")
    assert(!old.exists, "dead pre-fold dir swept")
    assert(streaming.VersionDrain.readFoldedThrough(spark, eDir).contains(1L),
      "folded-through marker survives recovery")
    // and the recovered floor still guards a lost watermark: folded v1
    // must not re-merge, unfolded v2 replays as an idempotent no-op
    assert(new java.io.File(s"$ckpt/_version_watermark").delete())
    GraphEdgeStore.maintainFromCdc(spark, cdcDir, eDir, ckpt)
    assert(edgeSet(eDir) == Set((10L, 20L, 2L), (10L, 30L, 1L)))
    // a healthy store with only __fold_old debris (crash after rename
    // #2, before the old delete): the next fold sweeps it and works
    assert(old.mkdirs())
    GraphEdgeStore.foldEdges(spark, eDir)
    assert(!old.exists, "debris swept by the next fold")
    assert(edgeSet(eDir) == Set((10L, 20L, 2L), (10L, 30L, 1L)))
  }

  test("fold preserves the degree and count views; cancelled keys vanish physically") {
    val b = freshDir()
    val eDir = s"$b/edges"; val dDir = s"$b/degrees"; val cDir = s"$b/counts"
    val corpus = li((1L, 10L), (1L, 20L), (2L, 10L), (2L, 30L))
    GraphEdgeStore.buildWithDegrees(spark, eDir, dDir, corpus)
    GraphEdgeStore.buildCounts(spark, cDir, corpus)
    // cancel order 2: edge 10-30 crosses to zero, part 30 vanishes
    val del = li((2L, 10L), (2L, 30L)).withColumn("change_type", lit("delete"))
    GraphEdgeStore.ingestBatchWithDegrees(spark, eDir, dDir, del, 0L)
    GraphEdgeStore.ingestCountsBatch(spark, cDir, del, 0L)
    val (d0, c0) = (degSet(dDir),
      GraphEdgeStore.partCounts(spark, cDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    GraphEdgeStore.foldDegrees(spark, dDir)
    GraphEdgeStore.foldCounts(spark, cDir)
    assert(degSet(dDir) == d0 && d0 == Set((10L, 1L), (20L, 1L)))
    assert(GraphEdgeStore.partCounts(spark, cDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == c0)
    // the cancelled part/node is physically gone, not just view-hidden
    assert(streaming.SnapshotStore.read(spark, dDir)
      .filter(org.apache.spark.sql.functions.col("node") === 30L).count() == 0)
    assert(streaming.SnapshotStore.read(spark, cDir)
      .filter(org.apache.spark.sql.functions.col("l_partkey") === 30L)
      .count() == 0)
    assert(streaming.VersionDrain.readFoldedThrough(spark, dDir).contains(0L))
    assert(streaming.VersionDrain.readFoldedThrough(spark, cDir).contains(0L))
  }

  test("fold inherits the live store's bucket count") {
    // a fold that silently re-bucketed would make the store refuse its
    // own maintainer's next ingest (merge validates bucket count)
    val dir = freshDir()
    GraphEdgeStore.build(spark, dir, li((1L, 10L), (1L, 20L)), numBuckets = 4)
    GraphEdgeStore.ingestBatch(spark, dir,
      li((2L, 10L), (2L, 20L)).withColumn("change_type", lit("insert")),
      0L, numBuckets = 4)
    GraphEdgeStore.foldEdges(spark, dir)
    GraphEdgeStore.ingestBatch(spark, dir,
      li((3L, 10L), (3L, 30L)).withColumn("change_type", lit("insert")),
      1L, numBuckets = 4)
    assert(edgeSet(dir) == Set((10L, 20L, 2L), (10L, 30L, 1L)))
  }

  test("update CDC rows are refused with the replay guidance") {
    val dir = freshDir()
    GraphEdgeStore.build(spark, dir, li((1L, 10L), (1L, 20L)))
    val e = intercept[IllegalArgumentException] {
      GraphEdgeStore.ingestBatch(spark, dir,
        li((1L, 10L)).withColumn("change_type", lit("update")), 0L)
    }
    assert(e.getMessage.contains("delete + insert"))
  }

  private def nOrders(dir: String): Long =
    GraphEdgeStore.orderCount(spark, dir).head().getLong(0)

  test("order-count store: whole-order deltas are additive, replay idempotent, fold compacts") {
    val dir = freshDir()
    // base: orders 1 and 2
    GraphEdgeStore.buildOrderCount(spark, dir,
      li((1L, 10L), (1L, 20L), (2L, 10L)))
    assert(nOrders(dir) == 2L)
    // batch 0: orders 3 and 4 arrive (distinct orderkeys, multi-line)
    val b0 = li((3L, 10L), (3L, 20L), (4L, 30L))
      .withColumn("change_type", lit("insert"))
    GraphEdgeStore.ingestOrderCountBatch(spark, dir, b0, 0L)
    assert(nOrders(dir) == 4L)
    // replaying the same batchId re-merges the identical row — no-op
    GraphEdgeStore.ingestOrderCountBatch(spark, dir, b0, 0L)
    assert(nOrders(dir) == 4L)
    // batch 1: whole order 1 cancels while order 5 arrives — net 0,
    // but per-kind counts still record +1/−1 through one merged row
    GraphEdgeStore.ingestOrderCountBatch(spark, dir,
      li((1L, 10L), (1L, 20L)).withColumn("change_type", lit("delete"))
        .unionByName(li((5L, 40L)).withColumn("change_type", lit("insert"))),
      1L)
    assert(nOrders(dir) == 4L)
    // batch 2: two whole orders cancel
    GraphEdgeStore.ingestOrderCountBatch(spark, dir,
      li((2L, 10L), (3L, 10L), (3L, 20L))
        .withColumn("change_type", lit("delete")), 2L)
    assert(nOrders(dir) == 2L)
    // fold compacts the log to one base row; the served count is
    // invariant
    val rawBefore = streaming.SnapshotStore.read(spark, dir).count()
    GraphEdgeStore.foldOrderCount(spark, dir)
    assert(streaming.SnapshotStore.read(spark, dir).count() < rawBefore)
    assert(nOrders(dir) == 2L)
  }

  test("order-count store: an empty or fully-cancelled corpus reads as zero") {
    val dir = freshDir()
    GraphEdgeStore.buildOrderCount(spark, dir, li((1L, 10L)))
    assert(nOrders(dir) == 1L)
    GraphEdgeStore.ingestOrderCountBatch(spark, dir,
      li((1L, 10L)).withColumn("change_type", lit("delete")), 0L)
    assert(nOrders(dir) == 0L)
  }

  test("store-served basket pairs and lift equal the live seam recompute") {
    import graft.queries.{Baskets, Commerce}
    val eDir = freshDir(); val cDir = freshDir(); val oDir = freshDir()
    // orders: 1:{10,20,30}, 2:{10,20}, 3:{10,20}, 4:{30,40} — pair
    // (10,20) support 3, the rest ≤ 1; n = 4 orders
    val corpus = li((1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L), (3L, 10L), (3L, 20L), (4L, 30L), (4L, 40L))
    GraphEdgeStore.build(spark, eDir, corpus)
    GraphEdgeStore.buildCounts(spark, cDir, corpus)
    GraphEdgeStore.buildOrderCount(spark, oDir, corpus)
    val baskets = Baskets.baskets(corpus)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    assert(rows(GraphEdgeStore.basketPairs(spark, eDir)) ==
      rows(Commerce.basketPairsFrom(
        Baskets.pairs(baskets, "part_a", "part_b")
          .groupBy("part_a", "part_b").agg(count(lit(1)).as("orders")))))
    val servedLift = GraphEdgeStore.basketLift(spark, eDir, cDir, oDir)
    assert(rows(servedLift) ==
      rows(Commerce.basketLiftFrom(
        Baskets.pairs(baskets, "part_a", "part_b")
          .groupBy("part_a", "part_b").agg(count(lit(1)).as("both_orders")),
        baskets.select(explode(col("basket")).as("part"))
          .groupBy("part").agg(count(lit(1)).as("cnt")),
        baskets.agg(count(lit(1)).as("n")))))
    // hand-check the one ≥2-support rule: (10,20) both=3, ca=cb=3,
    // n=4 → lift = 3·4/(3·3) = 1.3333, conf = 3/3 = 1.0
    val r = servedLift.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (10L, 20L, 3L))
    assert(r.getDouble(3) == 1.3333 && r.getDouble(4) == 1.0)
  }

  test("job pin: a served basketPairs collect runs 1 Spark job") {
    val dir = freshDir()
    GraphEdgeStore.build(spark, dir,
      li((1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L), (2L, 20L)))
    GraphEdgeStore.ingestBatch(spark, dir,
      li((3L, 10L), (3L, 20L)).withColumn("change_type", lit("insert")), 0L)
    val (rows, jobs) = JobCount(spark)(
      GraphEdgeStore.basketPairs(spark, dir).collect())
    assert(rows.nonEmpty)
    // the log reads as one partition: the sum and the top-k in one job
    assert(jobs == 1, s"basketPairs ran $jobs jobs")
  }
}
