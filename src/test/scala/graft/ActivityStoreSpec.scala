package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computable contracts of the maintained activity store: signed
  * (day, user) count deltas for insert / cross-midnight update /
  * retraction, the same-day-edit zero-net, per-batchId idempotence,
  * fold, and the served DAU/WAU equality with the live seam. The
  * end-to-end CDC arrival path incl. the registered-key parity is
  * driver-pinned by `q_gate_store_active_users`. */
class ActivityStoreSpec extends AnyFunSuite {
  import SparkTestSession._
  import streaming.{ActivityStore, SnapshotStore}

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_activity").toString

  private def ts(s: String): java.time.LocalDateTime =
    java.time.LocalDateTime.parse(s)

  private def change(rows: (Long, String, java.time.LocalDateTime,
      java.time.LocalDateTime, java.lang.Long, java.lang.Long)*) = {
    import spark.implicits._
    rows.toDF("event_id", "change_type", "old_ts", "new_ts",
      "old_user_id", "new_user_id")
  }

  private def act(dir: String): Set[(String, Long)] =
    ActivityStore.activity(spark, dir).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toSet

  test("insert/update/delete deltas move pairs; same-day edit writes nothing") {
    val dir = freshDir()
    // ver 0: three events — u1 twice on day 1 (one pair), u2 on day 2
    ActivityStore.ingestBatch(spark, dir, change(
      (1L, "insert", null, ts("2024-03-01T10:00"), null, 7L),
      (2L, "insert", null, ts("2024-03-01T23:30"), null, 7L),
      (3L, "insert", null, ts("2024-03-02T08:00"), null, 8L)), 0L)
    assert(act(dir) == Set("2024-03-01" -> 7L, "2024-03-02" -> 8L))
    // ver 1: same-day edit of event 1 — zero net, NO version committed
    val v0 = SnapshotStore.currentManifest(spark, dir).map(_.version)
    ActivityStore.ingestBatch(spark, dir, change(
      (1L, "update", ts("2024-03-01T10:00"), ts("2024-03-01T11:00"), 7L, 7L)),
      1L)
    assert(SnapshotStore.currentManifest(spark, dir).map(_.version) == v0)
    // ver 2: cross-midnight move of event 2 — u7 stays on day 1 (event
    // 1 still there) AND appears on day 2
    val mv = change(
      (2L, "update", ts("2024-03-01T23:30"), ts("2024-03-02T00:30"), 7L, 7L))
    ActivityStore.ingestBatch(spark, dir, mv, 2L)
    assert(act(dir) == Set("2024-03-01" -> 7L, "2024-03-02" -> 7L,
      "2024-03-02" -> 8L))
    // at-least-once replay of ver 2: identical rows re-merge — no-op
    ActivityStore.ingestBatch(spark, dir, mv, 2L)
    assert(act(dir) == Set("2024-03-01" -> 7L, "2024-03-02" -> 7L,
      "2024-03-02" -> 8L))
    // ver 3: retract event 1 — u7 leaves day 1 (count 1 -> 0), day 2
    // unaffected
    ActivityStore.ingestBatch(spark, dir, change(
      (1L, "delete", ts("2024-03-01T11:00"), null, 7L, null)), 3L)
    assert(act(dir) == Set("2024-03-02" -> 7L, "2024-03-02" -> 8L))
    // fold: served pairs unchanged, version rows reclaimed
    val before = act(dir)
    val raw = SnapshotStore.read(spark, dir).count()
    ActivityStore.fold(spark, dir)
    assert(SnapshotStore.read(spark, dir).count() < raw)
    assert(act(dir) == before)
  }

  test("served DAU/WAU equals the live seam over the same pairs") {
    val dir = freshDir()
    ActivityStore.ingestBatch(spark, dir, change(
      (1L, "insert", null, ts("2024-03-01T10:00"), null, 1L),
      (2L, "insert", null, ts("2024-03-02T10:00"), null, 1L),
      (3L, "insert", null, ts("2024-03-02T10:00"), null, 2L),
      (4L, "insert", null, ts("2024-03-09T10:00"), null, 2L)), 0L)
    val served = ActivityStore.activeUsers(spark, dir)
      .collect().map(_.toString).toSeq
    val live = queries.EventAnalytics.activeUsersFrom(
      ActivityStore.activity(spark, dir)).collect().map(_.toString).toSeq
    assert(served == live && served.nonEmpty)
    // hand-check one WAU: day 2024-03-02 sees u1 (active 03-01 and
    // 03-02) and u2 -> wau 2, dau 2, stickiness 1.0
    val d2 = ActivityStore.activeUsers(spark, dir)
      .filter(col("day") === "2024-03-02").head()
    assert(d2.getAs[Long]("dau") == 2L && d2.getAs[Long]("wau") == 2L)
    // and the gap day 03-09 only sees u2 (03-02 is 7 days back, out of
    // the [d-6, d] window)
    val d9 = ActivityStore.activeUsers(spark, dir)
      .filter(col("day") === "2024-03-09").head()
    assert(d9.getAs[Long]("dau") == 1L && d9.getAs[Long]("wau") == 1L)
  }

  test("a fold after every pair is retracted leaves a readable empty store") {
    val dir = freshDir()
    ActivityStore.ingestBatch(spark, dir, change(
      (1L, "insert", null, ts("2024-03-01T10:00"), null, 7L)), 0L)
    ActivityStore.ingestBatch(spark, dir, change(
      (1L, "delete", ts("2024-03-01T10:00"), null, 7L, null)), 1L)
    assert(act(dir).isEmpty)
    ActivityStore.fold(spark, dir)
    assert(act(dir).isEmpty, "the folded store must still be readable")
    assert(streaming.VersionDrain.readFoldedThrough(spark, dir).contains(1L))
    // life continues: the next version lands on the empty base
    ActivityStore.ingestBatch(spark, dir, change(
      (2L, "insert", null, ts("2024-03-02T10:00"), null, 8L)), 2L)
    assert(act(dir) == Set("2024-03-02" -> 8L))
  }

  // Job-count pins ([[JobCount]]): at store sizes a Spark job costs more
  // than the rows it moves, so a change in these counts is a change in
  // the store's cost and must be measured, not just re-pinned.

  private def pinned(dir: String): Unit =
    ActivityStore.ingestBatch(spark, dir, change(
      (1L, "insert", null, ts("2024-03-01T10:00"), null, 1L),
      (2L, "insert", null, ts("2024-03-02T10:00"), null, 2L)), 0L)

  test("job pin: a one-version ingestBatch runs 3 Spark jobs") {
    val dir = freshDir()
    pinned(dir)
    val (_, jobs) = JobCount(spark)(ActivityStore.ingestBatch(spark, dir,
      change((3L, "insert", null, ts("2024-03-02T11:00"), null, 3L)), 1L))
    assert(jobs == 3, s"ingestBatch ran $jobs jobs")
  }

  test("job pin: maintainFromCdc draining two versions and folding runs 18 Spark jobs") {
    import spark.implicits._
    val b = freshDir()
    val (cdc, dir, ckpt) = (s"$b/cdc", s"$b/store", s"$b/ckpt")
    pinned(dir)
    def ver(v: Int, rows: Seq[(Long, String, java.time.LocalDateTime,
        java.time.LocalDateTime, java.lang.Long, java.lang.Long)]): Unit =
      change(rows: _*).write.parquet(s"$cdc/__version=$v")
    ver(1, Seq((3L, "insert", null, ts("2024-03-03T10:00"), null, 3L)))
    ver(2, Seq((1L, "delete", ts("2024-03-01T10:00"), null, 1L, null)))
    val (_, jobs) = JobCount(spark)(ActivityStore.maintainFromCdc(
      spark, cdc, dir, ckpt, autoFoldDepth = Some(1)))
    assert(streaming.VersionDrain.readFoldedThrough(spark, dir).contains(2L))
    assert(act(dir) == Set("2024-03-02" -> 2L, "2024-03-03" -> 3L))
    assert(jobs == 18, s"maintainFromCdc ran $jobs jobs")
  }

  test("job pin: a served activeUsers collect runs 1 Spark job") {
    val dir = freshDir()
    pinned(dir)
    val (rows, jobs) = JobCount(spark)(
      ActivityStore.activeUsers(spark, dir).collect())
    assert(rows.nonEmpty)
    // the log reads as one partition: the net-sum, both aggregates and
    // the orderBy plan no exchange
    assert(jobs == 1, s"activeUsers ran $jobs jobs")
  }

  test("compile pin: a serve after 150 other plans compiles no class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    val dir = freshDir()
    pinned(dir)
    val first = ActivityStore.activeUsers(spark, dir).collect().toSeq
    // 150 distinct plans (the literal is inlined in each generated
    // class), more than Spark's default 100-entry cache holds
    for (i <- 1 to 150) spark.range(3).select(col("id") * i).collect()
    val (again, compiles) = CompileCount(
      ActivityStore.activeUsers(spark, dir).collect().toSeq)
    assert(again == first && first.nonEmpty)
    assert(compiles == 0, s"the second serve compiled $compiles classes")
  }

  test("a store planned above the one-partition threshold keeps its exchange plan, same answers") {
    val dir = freshDir()
    pinned(dir)
    ActivityStore.ingestBatch(spark, dir, change(
      (3L, "insert", null, ts("2024-03-04T10:00"), null, 1L),
      (4L, "insert", null, ts("2024-03-12T10:00"), null, 3L)), 1L)
    def served(): (Seq[String], String) = {
      val df = ActivityStore.activeUsers(spark, dir)
      (df.collect().map(_.toString).toSeq,
        df.queryExecution.executedPlan.toString)
    }
    val (small, smallPlan) = served()
    val (large, largePlan) = AboveThreshold(served())
    assert(!smallPlan.contains("Exchange"), smallPlan)
    assert(largePlan.contains("Exchange hashpartitioning"), largePlan)
    assert(large == small && small.size == 4, small)
  }
}
