package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computable contracts of the log-structured BM25 index store:
  * signed tf/length deltas (insert, delete, and the in-place UPDATE the
  * basket store must refuse), per-batchId idempotence, vanished-term
  * handling, and served-search equality with the live BM25. The
  * end-to-end CDC arrival path is driver-pinned by
  * `q_gate_store_text_search`. */
class TextIndexStoreSpec extends AnyFunSuite {
  import SparkTestSession._
  import streaming.TextIndexStore

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_textindex").toString

  private def postingSet(dir: String): Set[(String, Long, Long)] =
    TextIndexStore.postings(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def lenMap(dir: String): Map[Long, Long] =
    TextIndexStore.docLens(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("build writes hand-computable postings and lengths") {
    val b = freshDir(); val p = s"$b/post"; val l = s"$b/len"
    TextIndexStore.build(spark, p, l,
      docs((1L, "a b a"), (2L, "b c")))
    assert(postingSet(p) == Set(("a", 1L, 2L), ("b", 1L, 1L),
      ("b", 2L, 1L), ("c", 2L, 1L)))
    assert(lenMap(l) == Map(1L -> 3L, 2L -> 2L))
  }

  test("insert, delete, and IN-PLACE UPDATE deltas move the index exactly") {
    val b = freshDir(); val p = s"$b/post"; val l = s"$b/len"
    TextIndexStore.build(spark, p, l, docs((1L, "a b")))
    // batch 0: insert doc 2
    TextIndexStore.ingestBatch(spark, p, l,
      docs((2L, "b c")).select(col("doc_id"),
        lit("insert").as("change_type"),
        lit(null).cast("string").as("old_text"),
        col("text").as("new_text")), 0L)
    assert(postingSet(p) == Set(("a", 1L, 1L), ("b", 1L, 1L),
      ("b", 2L, 1L), ("c", 2L, 1L)))
    assert(lenMap(l) == Map(1L -> 2L, 2L -> 2L))
    // batch 1: UPDATE doc 1 "a b" -> "b b c" (the op the basket store
    // refuses): a drops out, b gains a count, c appears, length 2 -> 3
    TextIndexStore.ingestBatch(spark, p, l,
      docs((1L, "ignored")).select(col("doc_id"),
        lit("update").as("change_type"),
        lit("a b").as("old_text"), lit("b b c").as("new_text")), 1L)
    assert(postingSet(p) == Set(("b", 1L, 2L), ("c", 1L, 1L),
      ("b", 2L, 1L), ("c", 2L, 1L)))
    assert(lenMap(l) == Map(1L -> 3L, 2L -> 2L))
    // batch 2: delete doc 2 — its postings and length vanish from reads
    TextIndexStore.ingestBatch(spark, p, l,
      docs((2L, "ignored")).select(col("doc_id"),
        lit("delete").as("change_type"),
        lit("b c").as("old_text"), lit(null).cast("string").as("new_text")),
      2L)
    assert(postingSet(p) == Set(("b", 1L, 2L), ("c", 1L, 1L)))
    assert(lenMap(l) == Map(1L -> 3L))
  }

  test("a length-preserving update nets zero doclen rows; replay is a no-op") {
    val b = freshDir(); val p = s"$b/post"; val l = s"$b/len"
    TextIndexStore.build(spark, p, l, docs((1L, "a b")))
    val vL0 = streaming.SnapshotStore.currentManifest(spark, l).map(_.version)
    val batch = docs((1L, "ignored")).select(col("doc_id"),
      lit("update").as("change_type"),
      lit("a b").as("old_text"), lit("a c").as("new_text"))
    TextIndexStore.ingestBatch(spark, p, l, batch, 0L)
    // same length (2 -> 2): no doclen version committed
    assert(streaming.SnapshotStore.currentManifest(spark, l)
      .map(_.version) == vL0)
    assert(postingSet(p) == Set(("a", 1L, 1L), ("c", 1L, 1L)))
    // replaying the same batchId re-merges identical rows — content no-op
    val once = postingSet(p)
    TextIndexStore.ingestBatch(spark, p, l, batch, 0L)
    assert(postingSet(p) == once && lenMap(l) == Map(1L -> 2L))
  }

  test("an update that keeps the text commits no version on any artifact") {
    val b = freshDir(); val p = s"$b/post"; val l = s"$b/len"
    val o = s"$b/pos"
    TextIndexStore.build(spark, p, l, docs((1L, "a b a")),
      positionsDir = Some(o))
    def versions() = Seq(p, l, o).map(d =>
      streaming.SnapshotStore.currentManifest(spark, d).map(_.version))
    val v0 = versions()
    // −old +new over the same text: postings, lengths and positions all
    // net to empty deltas, and merge commits nothing for them
    TextIndexStore.ingestBatch(spark, p, l,
      docs((1L, "ignored")).select(col("doc_id"),
        lit("update").as("change_type"),
        lit("a b a").as("old_text"), lit("a b a").as("new_text")), 0L,
      positionsDir = Some(o))
    assert(versions() == v0)
    assert(postingSet(p) == Set(("a", 1L, 2L), ("b", 1L, 1L)))
  }

  test("fold compacts both artifact logs; views and replay floor survive") {
    import spark.implicits._
    val b = freshDir()
    val cdcDir = s"$b/cdc"; val p = s"$b/post"; val l = s"$b/len"
    val ckpt = s"$b/ckpt"
    def ver(v: Int, rows: Seq[(Long, String, String, String)]): Unit =
      rows.toDF("doc_id", "change_type", "old_text", "new_text")
        .write.parquet(s"$cdcDir/__version=$v")
    TextIndexStore.build(spark, p, l, docs((1L, "a b")))
    ver(1, Seq((2L, "insert", null, "b c")))
    ver(2, Seq((1L, "update", "a b", "b b")))
    TextIndexStore.maintainFromCdc(spark, cdcDir, p, l, ckpt)
    val before = (postingSet(p), lenMap(l))
    assert(before._1 == Set(("b", 1L, 2L), ("b", 2L, 1L), ("c", 2L, 1L)))
    def rawRows(dir: String): Long =
      streaming.SnapshotStore.read(spark, dir).count()
    val (rp, rl) = (rawRows(p), rawRows(l))
    TextIndexStore.foldPostings(spark, p)
    TextIndexStore.foldDocLens(spark, l)
    assert(rawRows(p) < rp, "postings fold must reclaim version rows")
    assert(rawRows(l) <= rl)
    assert((postingSet(p), lenMap(l)) == before, "views unchanged by fold")
    // watermark loss after a fold: folded versions must not re-merge
    assert(new java.io.File(s"$ckpt/_version_watermark").delete())
    TextIndexStore.maintainFromCdc(spark, cdcDir, p, l, ckpt)
    assert((postingSet(p), lenMap(l)) == before,
      "folded versions must not double-count on re-drain")
    // life continues post-fold
    ver(3, Seq((3L, "insert", null, "c")))
    TextIndexStore.maintainFromCdc(spark, cdcDir, p, l, ckpt)
    assert(postingSet(p).contains(("c", 3L, 1L)) && lenMap(l)(3L) == 1L)
  }

  test("served search equals the live BM25 on a planted corpus") {
    val b = freshDir(); val p = s"$b/post"; val l = s"$b/len"
    val corpus = docs(
      (1L, "spark streams window data"),
      (2L, "window window functions"),
      (3L, "batch data only"),
      (4L, "stream and window processing stream"))
    TextIndexStore.build(spark, p, l, corpus)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    val served = rows(TextIndexStore.search(spark, p, l,
      Seq("window", "stream"), topK = 3))
    val live = rows(graft.operators.TextSearch.bm25(corpus, "doc_id",
      "text", Seq("window", "stream"), topK = 3))
    assert(served == live && served.nonEmpty)
    // conjunctive mode parities too (doc 3 has neither, docs 1,2 lack
    // "stream" as an exact token: only doc 4 has both)
    val servedAll = rows(TextIndexStore.search(spark, p, l,
      Seq("window", "stream"), topK = 3, requireAll = true))
    val liveAll = rows(graft.operators.TextSearch.bm25(corpus, "doc_id",
      "text", Seq("window", "stream"), topK = 3, requireAll = true))
    assert(servedAll == liveAll && servedAll.map(_.split(",")(0))
      .forall(_.contains("4")))
  }

  private def posSet(dir: String): Set[(String, Long, Int)] =
    TextIndexStore.positions(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet

  test("positional deltas move occurrences exactly; kept tokens net zero rows") {
    val b = freshDir(); val p = s"$b/post"; val l = s"$b/len"
    val o = s"$b/pos"
    TextIndexStore.build(spark, p, l, docs((1L, "a b c")),
      positionsDir = Some(o))
    assert(posSet(o) == Set(("a", 1L, 0), ("b", 1L, 1), ("c", 1L, 2)))
    // in-place update "a b c" -> "a b d": only position 2 moves — the
    // kept-in-place prefix occurrences cancel (−old +new nets 0) and
    // write NOTHING
    TextIndexStore.ingestBatch(spark, p, l,
      docs((1L, "ignored")).select(col("doc_id"),
        lit("update").as("change_type"),
        lit("a b c").as("old_text"), lit("a b d").as("new_text")), 0L,
      positionsDir = Some(o))
    assert(posSet(o) == Set(("a", 1L, 0), ("b", 1L, 1), ("d", 1L, 2)))
    assert(streaming.SnapshotStore.read(spark, o)
      .filter(col("ver") === 0L).count() == 2,
      "ver-0 delta must hold only the two pos-2 rows (−c, +d)")
    // whole-doc delete drops every occurrence
    TextIndexStore.ingestBatch(spark, p, l,
      docs((1L, "ignored")).select(col("doc_id"),
        lit("delete").as("change_type"),
        lit("a b d").as("old_text"),
        lit(null).cast("string").as("new_text")), 1L,
      positionsDir = Some(o))
    assert(posSet(o).isEmpty)
  }

  test("served phrase equals the live phrase, including a repeated-word phrase") {
    val b = freshDir(); val p = s"$b/post"; val l = s"$b/len"
    val o = s"$b/pos"
    val corpus = docs(
      (1L, "x y z x y"),
      (2L, "y x y"),
      (3L, "x z y"),
      (4L, "x y"),
      (5L, "x y x"))
    TextIndexStore.build(spark, p, l, corpus, positionsDir = Some(o))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    val served = rows(TextIndexStore.searchPhrase(spark, o, l,
      Seq("x", "y"), topK = 4))
    val live = rows(graft.operators.TextSearch.phrase(corpus, "doc_id",
      "text", Seq("x", "y"), topK = 4))
    assert(served == live && served.nonEmpty)
    // repeated word: each x occurrence fans to offsets 0 AND 2
    val served3 = rows(TextIndexStore.searchPhrase(spark, o, l,
      Seq("x", "y", "x"), topK = 4))
    val live3 = rows(graft.operators.TextSearch.phrase(corpus, "doc_id",
      "text", Seq("x", "y", "x"), topK = 4))
    assert(served3 == live3 && served3.nonEmpty &&
      served3.head.startsWith("[5,"))
  }

  test("served phraseAt (distance offsets) and served batch equal live twins") {
    import spark.implicits._
    val b = freshDir(); val p = s"$b/post"; val l = s"$b/len"
    val o = s"$b/pos"
    val corpus = docs(
      (1L, "x y z x y"),
      (2L, "y x y"),
      (3L, "x z y"),
      (4L, "x q y"),
      (5L, "x y x"))
    TextIndexStore.build(spark, p, l, corpus, positionsDir = Some(o))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    // x <2> y — matches "x z y" / "x q y" / "x y z x y"(x@0,y@... no:
    // needs y at anchor+2; doc1 has x@0,y@... pos 2 is z — via x@3? y@?
    // the live twin is the definition; just pin equality + non-vacuity
    val servedAt = rows(TextIndexStore.searchPhraseAt(spark, o, l,
      Seq(("x", 0), ("y", 2)), topK = 5))
    val liveAt = rows(graft.operators.TextSearch.phraseAt(corpus, "doc_id",
      "text", Seq(("x", 0), ("y", 2)), topK = 5))
    assert(servedAt == liveAt && servedAt.nonEmpty)
    val queries = Seq((10L, "x"), (10L, "y"), (11L, "z"))
      .toDF("qid", "term")
    val servedB = rows(TextIndexStore.searchBatch(spark, p, l, queries,
      "qid", "term", topK = 3))
    val liveB = rows(graft.operators.TextSearch.bm25Batch(corpus, "doc_id",
      "text", queries, "qid", "term", topK = 3))
    assert(servedB == liveB && servedB.nonEmpty)
  }

  test("served reads term-prune the postings scan (filter pushed below the log sum)") {
    val b = freshDir(); val p = s"$b/post"; val l = s"$b/len"
    val o = s"$b/pos"
    TextIndexStore.build(spark, p, l, docs((1L, "a b"), (2L, "b c")),
      positionsDir = Some(o))
    // the term filter sits ABOVE the version-log groupBy-sum in the
    // serving composition; it must reach the parquet scan anyway (word
    // is a grouping column, so Catalyst pushes it through the aggregate
    // — the property that makes a query read |terms| postings lists
    // instead of the whole index)
    def pushed(df: org.apache.spark.sql.DataFrame): Boolean = {
      df.collect()
      df.queryExecution.executedPlan.toString.contains("In(word")
    }
    assert(pushed(TextIndexStore.postings(spark, p)
      .filter(col("word").isInCollection(Seq("a", "c")))),
      "tf postings read must push the term IN-set into the scan")
    assert(pushed(TextIndexStore.positions(spark, o, Some(Seq("a", "c")))),
      "positional read must push the term IN-set into the scan")
  }

  test("positions fold compacts the log; the view and replay floor survive") {
    import spark.implicits._
    val b = freshDir()
    val cdcDir = s"$b/cdc"; val p = s"$b/post"; val l = s"$b/len"
    val o = s"$b/pos"; val ckpt = s"$b/ckpt"
    def ver(v: Int, rows: Seq[(Long, String, String, String)]): Unit =
      rows.toDF("doc_id", "change_type", "old_text", "new_text")
        .write.parquet(s"$cdcDir/__version=$v")
    TextIndexStore.build(spark, p, l, docs((1L, "a b")),
      positionsDir = Some(o))
    ver(1, Seq((2L, "insert", null, "b a")))
    ver(2, Seq((1L, "update", "a b", "b b")))
    TextIndexStore.maintainFromCdc(spark, cdcDir, p, l, ckpt,
      positionsDir = Some(o))
    val before = posSet(o)
    assert(before == Set(("b", 1L, 0), ("b", 1L, 1),
      ("b", 2L, 0), ("a", 2L, 1)))
    val raw = streaming.SnapshotStore.read(spark, o).count()
    TextIndexStore.foldPositions(spark, o)
    assert(streaming.SnapshotStore.read(spark, o).count() < raw)
    assert(posSet(o) == before, "view unchanged by fold")
    // watermark loss after fold: the folded-through floor must hold
    assert(new java.io.File(s"$ckpt/_version_watermark").delete())
    TextIndexStore.maintainFromCdc(spark, cdcDir, p, l, ckpt,
      positionsDir = Some(o))
    assert(posSet(o) == before,
      "folded versions must not double-count on re-drain")
  }
}
