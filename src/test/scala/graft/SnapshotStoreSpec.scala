package graft

import graft.streaming.SnapshotStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucket-partitioned snapshot invariants: bounded rewrite (untouched
  * bucket dirs survive a merge byte-identical), manifest-pinned bucket
  * count, deterministic winners on replay. */
class SnapshotStoreSpec extends AnyFunSuite {
  import SparkTestSession._


  private def freshDir(name: String): java.io.File = {
    val d = new java.io.File(s"/root/repo/target/$name")
    LocalFs.rmrf(d); d
  }

  private def filesUnder(d: java.io.File): Map[String, (Long, Long)] =
    Option(d.listFiles()).getOrElse(Array.empty).flatMap { f =>
      if (f.isDirectory) filesUnder(f).map { case (k, v) => s"${f.getName}/$k" -> v }
      else Seq(f.getName -> ((f.length(), f.lastModified())))
    }.toMap

  test("reader retry: a stale manifest heals against the newest version") {
    import spark.implicits._
    val dir = freshDir("snap_retry").getAbsolutePath
    SnapshotStore.merge(spark, dir,
      (1L to 50L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    val stale = SnapshotStore.currentManifest(spark, dir).get
    // second merge updates every key → every v1 bucket dir is deleted by
    // post-commit cleanup, exactly the reader/cleanup race window
    SnapshotStore.merge(spark, dir,
      (1L to 50L).map(k => (k, s"w$k")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    assert(!new java.io.File(s"$dir/${stale.buckets.values.head}").exists(),
      "precondition: the stale manifest must point at a deleted dir")
    // a reader holding the stale manifest heals to the new version
    val healed = SnapshotStore.readFrom(spark, dir, stale)
    assert(healed.count() == 50)
    assert(healed.filter($"k" === 1L).head.getString(1) == "w1")
  }

  test("isMissingPath survives cause cycles and still finds wrapped FNF") {
    // cycle of length 2: a → b → a (IllegalState's initCause allows it
    // because neither was constructed with a cause)
    val a = new RuntimeException("a")
    val b = new RuntimeException("b")
    a.initCause(b); b.initCause(a)
    assert(!SnapshotStore.isMissingPath(a)) // must terminate, not overflow
    // a FileNotFoundException wrapped before the cycle closes is found
    val fnf = new java.io.FileNotFoundException("gone")
    val wrapped = new RuntimeException("outer", fnf)
    assert(SnapshotStore.isMissingPath(wrapped))
    assert(SnapshotStore.isMissingPath(fnf))
    assert(!SnapshotStore.isMissingPath(new RuntimeException("plain")))
    assert(!SnapshotStore.isMissingPath(null))
  }

  test("merge rewrites only touched buckets; untouched dirs stay byte-identical") {
    import spark.implicits._
    val dir = freshDir("snap_bounded")
    val base = (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v")
    SnapshotStore.merge(spark, dir.getAbsolutePath, base, Seq("k"), numBuckets = 8)
    val m1 = SnapshotStore.currentManifest(spark, dir.getAbsolutePath).get
    assert(m1.numBuckets == 8)
    val before = filesUnder(dir)
    // a single-key batch touches exactly one bucket
    val delta = Seq((7L, "updated")).toDF("k", "v")
    val hot = SnapshotStore.bucketCol(Seq("k"), 8)
    val hotBucket = delta.select(hot).head.getInt(0)
    SnapshotStore.merge(spark, dir.getAbsolutePath, delta, Seq("k"), numBuckets = 8)
    val m2 = SnapshotStore.currentManifest(spark, dir.getAbsolutePath).get
    assert(m2.version == m1.version + 1)
    // manifest: only the hot bucket's dir changed
    assert(m2.buckets(hotBucket) != m1.buckets(hotBucket))
    (m1.buckets.keySet - hotBucket).foreach { b =>
      assert(m2.buckets(b) == m1.buckets(b), s"bucket $b dir changed")
    }
    // filesystem: every file in an untouched bucket dir is byte-identical
    // (same path, same length, same mtime — never rewritten)
    val after = filesUnder(dir)
    val untouchedDirs = (m1.buckets - hotBucket).values.toSet
    before.filter { case (p, _) => untouchedDirs.exists(d => p.startsWith(s"$d/")) }
      .foreach { case (p, sig) =>
        assert(after.get(p).contains(sig), s"untouched file $p was rewritten")
      }
    // content: update applied, everything else intact
    val snap = SnapshotStore.read(spark, dir.getAbsolutePath)
    assert(snap.count() == 200)
    assert(snap.filter($"k" === 7L).head.getString(1) == "updated")
  }

  test("merge with a different numBuckets than the manifest fails fast") {
    import spark.implicits._
    val dir = freshDir("snap_nbguard")
    val base = (1L to 50L).map(k => (k, k * 2)).toDF("k", "v")
    SnapshotStore.merge(spark, dir.getAbsolutePath, base, Seq("k"), numBuckets = 4)
    val ex = intercept[IllegalArgumentException] {
      SnapshotStore.merge(spark, dir.getAbsolutePath,
        Seq((1L, 99L)).toDF("k", "v"), Seq("k"), numBuckets = 8)
    }
    assert(ex.getMessage.contains("numBuckets=4"))
    // snapshot unchanged by the rejected merge
    assert(SnapshotStore.read(spark, dir.getAbsolutePath).count() == 50)
  }

  test("replaying a batch with in-batch duplicates converges to one deterministic winner") {
    import spark.implicits._
    val dir = freshDir("snap_replay")
    val batch = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "c"))
      .toDF("k", "ts", "v")
    SnapshotStore.merge(spark, dir.getAbsolutePath, batch, Seq("k"),
      numBuckets = 4, orderCol = Some("ts"))
    val first = SnapshotStore.read(spark, dir.getAbsolutePath)
      .orderBy("k").collect().map(_.toString).toSeq
    assert(first.size == 2)
    // largest ts wins
    assert(SnapshotStore.read(spark, dir.getAbsolutePath)
      .filter($"k" === 1L).head.getAs[String]("v") == "b")
    SnapshotStore.merge(spark, dir.getAbsolutePath, batch, Seq("k"),
      numBuckets = 4, orderCol = Some("ts"))
    val replayed = SnapshotStore.read(spark, dir.getAbsolutePath)
      .orderBy("k").collect().map(_.toString).toSeq
    assert(replayed == first, "replay must converge to identical state")
  }

  test("time travel: retained versions read back exactly; vacuum bounds them") {
    import spark.implicits._
    val dir = freshDir("snap_tt").getAbsolutePath
    def mergeRetained(rows: Seq[(Long, Long, String)]): Unit =
      SnapshotStore.merge(spark, dir, rows.toDF("k", "ts", "v"), Seq("k"),
        numBuckets = 4, orderCol = Some("ts"), retain = true)
    mergeRetained(Seq((1L, 10L, "a"), (2L, 10L, "b")))
    mergeRetained(Seq((1L, 20L, "a2"), (3L, 10L, "c")))
    mergeRetained(Seq((2L, 30L, "b3")))
    assert(SnapshotStore.listVersions(spark, dir) == Seq(1L, 2L, 3L))
    def at(v: Long): Map[Long, String] =
      SnapshotStore.readAt(spark, dir, v).collect()
        .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(at(1L) == Map(1L -> "a", 2L -> "b"))
    assert(at(2L) == Map(1L -> "a2", 2L -> "b", 3L -> "c"))
    assert(at(3L) == Map(1L -> "a2", 2L -> "b3", 3L -> "c"))
    // current read = newest version
    assert(SnapshotStore.read(spark, dir).count() == 3)
    // vacuum to the newest 2: version 1 gone, 2 and 3 intact
    SnapshotStore.vacuum(spark, dir, keepLast = 2)
    assert(SnapshotStore.listVersions(spark, dir) == Seq(2L, 3L))
    intercept[java.io.FileNotFoundException](SnapshotStore.readAt(spark, dir, 1L))
    assert(at(2L) == Map(1L -> "a2", 2L -> "b", 3L -> "c"))
    assert(at(3L) == Map(1L -> "a2", 2L -> "b3", 3L -> "c"))
  }

  test("dup-heavy batches with subset-keyed follow-up: one row per key, replay fixpoint") {
    // derived from a randomized-search counterexample candidate (which a
    // deterministic rerun cleared — kept as a permanent regression):
    // batch 1 has 3-way in-batch duplicates on two keys; batch 2 touches
    // a strict subset of keys with a LOWER orderCol than the standing
    // winner (updates still win — MERGE semantics, not max-ts)
    import spark.implicits._
    val dir = freshDir("snap_dupheavy").getAbsolutePath
    val b1 = Seq((1L, 6L, "cwzbwcyh"), (0L, 0L, "fnv"), (3L, 3L, "vlwi"),
      (1L, 0L, "tvwispjs"), (6L, 9L, "ouwl"), (0L, 5L, "evpmx"),
      (1L, 0L, "xqddict"), (0L, 0L, "a"), (3L, 9L, "tuoceek"))
    val b2 = Seq((0L, 0L, "c"), (0L, 2L, "njwxcmmf"))
    def m(b: Seq[(Long, Long, String)]): Unit =
      SnapshotStore.merge(spark, dir, b.toDF("k", "ts", "v"), Seq("k"),
        numBuckets = 3, orderCol = Some("ts"))
    def state(): Seq[String] =
      SnapshotStore.read(spark, dir).orderBy("k").collect().map(_.toString).toSeq
    m(b1); m(b2)
    val after = state()
    assert(after == Seq("[0,2,njwxcmmf]", "[1,6,cwzbwcyh]",
      "[3,9,tuoceek]", "[6,9,ouwl]"), after.toString)
    m(b2)
    assert(state() == after, "replay must be a fixpoint")
  }

  test("crashed merge leaves orphans; the next merge recovers and vacuum sweeps them") {
    import spark.implicits._
    val dirF = freshDir("snap_crash")
    val dir = dirF.getAbsolutePath
    SnapshotStore.merge(spark, dir,
      Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "ts", "v"),
      Seq("k"), numBuckets = 2, orderCol = Some("ts"), retain = true)
    // simulate a merge that died after staging version 2 but before the
    // manifest rename: a stage scaffold plus an orphan bucket dir
    new java.io.File(dirF, "__stage_v2/__b=0").mkdirs()
    new java.io.File(dirF, "b0_v2").mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(dirF, "b0_v2/garbage").toPath, "not parquet")
    // the crash is invisible to readers (manifest v1 still live)...
    assert(SnapshotStore.read(spark, dir).count() == 2)
    // ...and the next merge claims version 2, replacing the orphan dir
    SnapshotStore.merge(spark, dir,
      Seq((1L, 2L, "a2")).toDF("k", "ts", "v"),
      Seq("k"), numBuckets = 2, orderCol = Some("ts"), retain = true)
    val state = SnapshotStore.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(state == Map(1L -> "a2", 2L -> "b"))
    // vacuum sweeps the dead scaffold along with old versions
    SnapshotStore.vacuum(spark, dir, keepLast = 1)
    val leftovers = Option(dirF.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("__stage"))
    assert(leftovers.isEmpty, s"stage scaffolds not swept: ${leftovers.mkString(",")}")
    assert(SnapshotStore.read(spark, dir).count() == 2)
  }

  // (delete classification is unreachable through merge — it never drops
  // keys — but the changes() contract covers it for generality)
  test("changes: insert/update classified, replay is silent, null drift detected") {
    import spark.implicits._
    val dir = freshDir("snap_cdc").getAbsolutePath
    SnapshotStore.merge(spark, dir,
      Seq((1L, 1L, Option("a")), (2L, 1L, Option("b")), (4L, 1L, Option.empty[String]))
        .toDF("k", "ts", "v"),
      Seq("k"), numBuckets = 4, orderCol = Some("ts"), retain = true)
    SnapshotStore.merge(spark, dir,
      Seq((1L, 2L, Option("a2")), (2L, 2L, Option("b")), (3L, 2L, Option("c")),
        (4L, 2L, Option("now-set")))
        .toDF("k", "ts", "v"),
      Seq("k"), numBuckets = 4, orderCol = Some("ts"), retain = true)
    val out = SnapshotStore.changes(spark, dir, 1L, 2L, Seq("k"))
      .collect().map(r => r.getAs[Long]("k") ->
        (r.getAs[String]("change_type"), r.getAs[String]("old_v"), r.getAs[String]("new_v")))
      .toMap
    assert(out(1L) == ("update", "a", "a2"))
    assert(out(3L) == ("insert", null, "c"))
    assert(out(4L) == ("update", null, "now-set"), "null->value drift must register")
    // k=2: ts advanced but v unchanged... ts IS a non-key column, so it
    // registers as an update (ts 1 -> 2) — assert the classification
    assert(out(2L)._1 == "update")
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    // replaying version 2's exact content commits version 3 with no
    // value drift — the change feed between them must be EMPTY
    SnapshotStore.merge(spark, dir,
      SnapshotStore.readAt(spark, dir, 2L), Seq("k"),
      numBuckets = 4, orderCol = Some("ts"), retain = true)
    assert(SnapshotStore.changes(spark, dir, 2L, 3L, Seq("k")).count() == 0)
  }

  test("schema evolution composes with merge: add + widen, changes across the boundary") {
    import spark.implicits._
    val dir = freshDir("snap_evolve").getAbsolutePath
    // v1: (k int-keyed long, v string)
    SnapshotStore.merge(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      Seq("k"), numBuckets = 4, retain = true)
    // v2: batch ADDS a column (score int) — earlier rows null-fill
    SnapshotStore.merge(spark, dir,
      Seq((2L, "b2", 7), (3L, "c", 9)).toDF("k", "v", "score"),
      Seq("k"), numBuckets = 4, retain = true)
    val v2 = SnapshotStore.read(spark, dir)
    assert(v2.schema("score").dataType.typeName == "integer")
    assert(v2.orderBy("k").collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSeq ==
      Seq((1L, "a", None), (2L, "b2", Some(7)), (3L, "c", Some(9))),
      "untouched v1 rows null-fill the added column")
    // v3: score arrives as DOUBLE → snapshot widens int→double; only
    // bucket dirs of touched keys are rewritten, others align on read
    SnapshotStore.merge(spark, dir,
      Seq((1L, "a3", 2.5)).toDF("k", "v", "score"),
      Seq("k"), numBuckets = 4, retain = true)
    val v3 = SnapshotStore.read(spark, dir)
    assert(v3.schema("score").dataType.typeName == "double")
    assert(v3.orderBy("k").collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq ==
      Seq((1L, "a3", Some(2.5)), (2L, "b2", Some(7.0)), (3L, "c", Some(9.0))))
    // a batch MISSING a known column null-fills it for its own keys only
    SnapshotStore.merge(spark, dir,
      Seq((4L, "d")).toDF("k", "v"), Seq("k"), numBuckets = 4, retain = true)
    val v4 = SnapshotStore.read(spark, dir)
    assert(v4.filter($"k" === 4L).head.isNullAt(2))
    assert(v4.filter($"k" === 2L).head.getDouble(2) == 7.0)
    // changes across the int→double evolution boundary (v2 → v3)
    val ch = SnapshotStore.changes(spark, dir, 2L, 3L, Seq("k"))
    assert(ch.schema("old_score").dataType.typeName == "double" &&
      ch.schema("new_score").dataType.typeName == "double",
      "diff runs under the reconciled union schema")
    val byK = ch.collect().map(r => r.getAs[Long]("k") ->
      (r.getAs[String]("change_type"), r.getAs[Any]("old_score"), r.getAs[Any]("new_score"))).toMap
    assert(byK(1L) == ("update", null, 2.5))
    assert(byK.keySet == Set(1L), "untouched keys must not register as changes")
    // and across the column-ADD boundary (v1 → v2)
    val ch12 = SnapshotStore.changes(spark, dir, 1L, 2L, Seq("k"))
    val byK12 = ch12.collect().map(r => r.getAs[Long]("k") ->
      (r.getAs[String]("change_type"), r.getAs[Any]("new_score"))).toMap
    assert(byK12(2L)._1 == "update" && byK12(3L) == ("insert", 9.0))
    assert(!byK12.contains(1L), "null-fill alone is not a change")
    // key-type drift is refused loudly (bucket hashes are type-sensitive):
    // a double key would widen the snapshot's long key → existing rows'
    // bucket assignment no longer matches. (A NARROWER batch key — int
    // into a long snapshot key — is fine: align casts it before hashing.)
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.merge(spark, dir,
        Seq((5.0, "x")).toDF("k", "v"), Seq("k"), numBuckets = 4, retain = true)
    }
    assert(e.getMessage.contains("key column k drifted"))
  }

  test("delete: bucket-pruned, emptied buckets leave the manifest, replay idempotent") {
    import spark.implicits._
    val dir = freshDir("snap_delete").getAbsolutePath
    SnapshotStore.merge(spark, dir,
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v"),
      Seq("k"), numBuckets = 4, retain = true)
    val before = filesUnder(new java.io.File(dir))
    // delete three keys from ONE bucket (hash-probed below), retain
    val doomed = Seq(5L, 9L, 13L).map(Tuple1(_)).toDF("k")
    SnapshotStore.delete(spark, dir, doomed, Seq("k"), retain = true)
    val snap = SnapshotStore.read(spark, dir)
    assert(snap.count() == 37)
    assert(snap.filter($"k".isin(5L, 9L, 13L)).count() == 0)
    // untouched bucket dirs survived byte-identical (bounded rewrite)
    val touchedBuckets = doomed
      .withColumn("__b", SnapshotStore.bucketCol(Seq("k"), 4))
      .select("__b").distinct().collect().map(_.getInt(0)).toSet
    val after = filesUnder(new java.io.File(dir))
    val untouchedV1 = before.keys.filter(p =>
      p.startsWith("b") && p.contains("_v1/") &&
        !touchedBuckets.exists(b => p.startsWith(s"b${b}_v1/")))
    assert(untouchedV1.nonEmpty)
    untouchedV1.foreach(p => assert(after.get(p) == before.get(p),
      s"untouched bucket file $p must survive a delete byte-identical"))
    // changes across the delete classifies exactly the removed keys
    val ch = SnapshotStore.changes(spark, dir, 1L, 2L, Seq("k")).collect()
    assert(ch.map(_.getAs[Long]("k")).toSet == Set(5L, 9L, 13L))
    assert(ch.forall(_.getAs[String]("change_type") == "delete"))
    // replaying the delete is a no-op version (idempotent)
    SnapshotStore.delete(spark, dir, doomed, Seq("k"), retain = true)
    assert(SnapshotStore.changes(spark, dir, 2L, 3L, Seq("k")).count() == 0)
    assert(SnapshotStore.read(spark, dir).count() == 37)
    // delete EVERYTHING: the manifest ends bucket-less, reads are empty
    SnapshotStore.delete(spark, dir,
      SnapshotStore.read(spark, dir).select("k"), Seq("k"), retain = true)
    val empty = SnapshotStore.read(spark, dir)
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.toSeq == Seq("k", "v"),
      "empty snapshot keeps the manifest schema")
    assert(SnapshotStore.currentManifest(spark, dir).get.buckets.isEmpty)
    // and a fresh merge resurrects the table
    SnapshotStore.merge(spark, dir, Seq((99L, "z")).toDF("k", "v"),
      Seq("k"), numBuckets = 4, retain = true)
    assert(SnapshotStore.read(spark, dir).count() == 1)
    // deleting from a never-committed snapshot fails loudly
    intercept[java.io.FileNotFoundException] {
      SnapshotStore.delete(spark, freshDir("snap_delete_none").getAbsolutePath,
        doomed, Seq("k"))
    }
  }

  test("read returns the manifest's column order after a delete, key not leading") {
    import spark.implicits._
    val dir = freshDir("snap_delete_order").getAbsolutePath
    SnapshotStore.merge(spark, dir,
      (1L to 40L).map(k => (s"v$k", k, k * 10)).toDF("v", "k", "n"),
      Seq("k"), numBuckets = 4)
    // the delete's left-anti USING join writes the key column first;
    // read must still follow the manifest's #schema= order
    SnapshotStore.delete(spark, dir, Seq(5L, 9L, 13L).toDF("k"), Seq("k"))
    val manifestOrder = SnapshotStore.currentManifest(spark, dir).get
      .schema.get.fieldNames.toSeq
    assert(manifestOrder == Seq("v", "k", "n"))
    val snap = SnapshotStore.read(spark, dir)
    assert(snap.columns.toSeq == manifestOrder)
    assert(snap.count() == 37)
    assert(snap.filter($"k" === 7L).head == org.apache.spark.sql.Row("v7", 7L, 70L))
    // the bucket-pruned read follows the same order
    val pruned = SnapshotStore.readBuckets(spark, dir, 0 until 4).get
    assert(pruned.columns.toSeq == manifestOrder)
  }

  test("a one-key merge into a 4-bucket snapshot runs 4 Spark jobs") {
    import spark.implicits._
    val dir = freshDir("snap_merge_jobs").getAbsolutePath
    SnapshotStore.merge(spark, dir,
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), numBuckets = 4)
    val batch = Seq((7L, "w7")).toDF("k", "v")
    val (_, jobs) = JobCount(spark)(
      SnapshotStore.merge(spark, dir, batch, Seq("k"), numBuckets = 4))
    // the same merge ran 7 jobs before the touched buckets were found in
    // the job that fills the checkpoint and the bucket read took the
    // manifest's schema: an eager checkpoint job, a distinct-bucket pass
    // with its own exchange (two jobs) and a footer-inference job, where
    // one checkpoint-filling collect now stands
    assert(jobs == 4, s"merge ran $jobs jobs")
    assert(SnapshotStore.read(spark, dir).filter($"k" === 7L).head.getString(1) == "w7")
  }

  test("update: predicate rewrite is bucket-pruned, replay-idempotent, CDC-classified") {
    import spark.implicits._
    val dir = freshDir("snap_update").getAbsolutePath
    SnapshotStore.merge(spark, dir,
      (1L to 40L).map(k => (k, k * 10, "x")).toDF("k", "v", "tag"),
      Seq("k"), numBuckets = 4, retain = true)
    val before = filesUnder(new java.io.File(dir))
    // update three keys' values; all three hash into a subset of buckets
    val hit = Seq(5L, 9L, 13L)
    SnapshotStore.update(spark, dir, Seq("k"),
      Map("v" -> (col("v") + 1000)), $"k".isin(hit: _*), retain = true)
    val snap = SnapshotStore.read(spark, dir)
    assert(snap.filter($"k".isin(hit: _*)).select("v").collect()
      .map(_.getLong(0)).sorted.toSeq == hit.map(_ * 10 + 1000).sorted,
      "matching rows take the SET value")
    assert(snap.filter(!$"k".isin(hit: _*) && $"v" =!= $"k" * 10).count() == 0,
      "non-matching rows keep their values")
    assert(snap.count() == 40, "update never changes cardinality")
    // bounded rewrite: bucket dirs not holding a hit survive byte-identical
    val touchedBuckets = hit.toDF("k")
      .withColumn("__b", SnapshotStore.bucketCol(Seq("k"), 4))
      .select("__b").distinct().collect().map(_.getInt(0)).toSet
    val after = filesUnder(new java.io.File(dir))
    val untouchedV1 = before.keys.filter(p =>
      p.startsWith("b") && p.contains("_v1/") &&
        !touchedBuckets.exists(b => p.startsWith(s"b${b}_v1/")))
    assert(untouchedV1.nonEmpty)
    untouchedV1.foreach(p => assert(after.get(p) == before.get(p),
      s"untouched bucket file $p must survive an update byte-identical"))
    // CDC: exactly the hit keys classify as update with old/new images
    val ch = SnapshotStore.changes(spark, dir, 1L, 2L, Seq("k")).collect()
    assert(ch.map(_.getAs[Long]("k")).toSet == hit.toSet)
    assert(ch.forall(_.getAs[String]("change_type") == "update"))
    assert(ch.forall(r => r.getAs[Long]("new_v") == r.getAs[Long]("old_v") + 1000))
    // replaying the update: +1000 again on the already-updated rows is a
    // REAL second update (not idempotent arithmetic) — idempotence means
    // re-running the SAME state transition: an absolute SET converges
    SnapshotStore.update(spark, dir, Seq("k"),
      Map("v" -> lit(7777L)), $"k" === 5L, retain = true)
    SnapshotStore.update(spark, dir, Seq("k"),
      Map("v" -> lit(7777L)), $"k" === 5L, retain = true)
    assert(SnapshotStore.read(spark, dir).filter($"k" === 5L)
      .head.getAs[Long]("v") == 7777L)
    assert(SnapshotStore.changes(spark, dir, 3L, 4L, Seq("k")).count() == 0,
      "replayed absolute update diffs empty (converged)")
    // no-match predicate: pure no-op, no version committed
    val vBefore = SnapshotStore.listVersions(spark, dir).max
    SnapshotStore.update(spark, dir, Seq("k"),
      Map("v" -> lit(0L)), $"k" === 999L, retain = true)
    assert(SnapshotStore.listVersions(spark, dir).max == vBefore)
    // refusals: SET on a key column; SET on an unknown column
    val eKey = intercept[IllegalArgumentException] {
      SnapshotStore.update(spark, dir, Seq("k"), Map("k" -> lit(1L)), lit(true))
    }
    assert(eKey.getMessage.contains("key column"))
    val eCol = intercept[IllegalArgumentException] {
      SnapshotStore.update(spark, dir, Seq("k"), Map("nope" -> lit(1L)), lit(true))
    }
    assert(eCol.getMessage.contains("not in"))
    // nondeterministic predicate: evaluated twice (find-touched +
    // rewrite), so it must be refused, not silently double-sampled
    val eNonDet = intercept[IllegalArgumentException] {
      SnapshotStore.update(spark, dir, Seq("k"),
        Map("v" -> lit(0L)), rand() < 0.5)
    }
    assert(eNonDet.getMessage.contains("deterministic"))
    // multi-column SET evaluates every RHS against the OLD row (SQL
    // semantics): swapping v and tag-length must not read updated v
    SnapshotStore.update(spark, dir, Seq("k"),
      Map("v" -> (col("v") * 2),
        "tag" -> concat(col("tag"), (col("v") / 10).cast("long").cast("string"))),
      $"k" === 7L, retain = true)
    val r7 = SnapshotStore.read(spark, dir).filter($"k" === 7L).head
    assert(r7.getAs[Long]("v") == 140L)
    assert(r7.getAs[String]("tag") == "x7", // built from OLD v=70, not 140
      s"SET must see the old row: ${r7.getAs[String]("tag")}")
  }

  test("update across an evolved schema classifies correctly in changes()") {
    import spark.implicits._
    val dir = freshDir("snap_update_evolve").getAbsolutePath
    SnapshotStore.merge(spark, dir, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      Seq("k"), numBuckets = 2, retain = true)
    // v2 evolves the schema: adds column w (older rows null-fill)
    SnapshotStore.merge(spark, dir, Seq((3L, 30L, "c")).toDF("k", "v", "w"),
      Seq("k"), numBuckets = 2, retain = true)
    // update a PRE-evolution row, setting the post-evolution column
    SnapshotStore.update(spark, dir, Seq("k"),
      Map("w" -> lit("healed")), $"k" === 1L, retain = true)
    val snap = SnapshotStore.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") -> Option(r.getAs[String]("w"))).toMap
    assert(snap(1L).contains("healed") && snap(2L).isEmpty && snap(3L).contains("c"))
    val ch = SnapshotStore.changes(spark, dir, 2L, 3L, Seq("k")).collect()
    assert(ch.map(_.getAs[Long]("k")).toSeq == Seq(1L))
    assert(ch.head.getAs[String]("change_type") == "update")
    assert(ch.head.getAs[String]("old_w") == null &&
      ch.head.getAs[String]("new_w") == "healed",
      "null -> value on an evolved column is an update, not a dropped row")
  }

  test("delete pins doomed key types to the committed schema before bucketing") {
    import spark.implicits._
    val dir = freshDir("snap_delete_keytype").getAbsolutePath
    SnapshotStore.merge(spark, dir,
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v"),
      Seq("k"), numBuckets = 4, retain = true)
    // IntegerType doomed keys against a LongType snapshot: xxhash64 is
    // type-sensitive (4-byte vs 8-byte input), so an unpinned frame
    // would bucket-route to the WRONG dirs and the rows would survive
    SnapshotStore.delete(spark, dir,
      Seq(5, 9, 13).toDF("k"), Seq("k"), retain = true)
    val snap = SnapshotStore.read(spark, dir)
    assert(snap.count() == 37,
      "int-keyed delete against a long-keyed snapshot must actually delete")
    assert(snap.filter($"k".isin(5L, 9L, 13L)).count() == 0)
    // a castable string key also routes correctly
    SnapshotStore.delete(spark, dir, Seq("7").toDF("k"), Seq("k"), retain = true)
    assert(SnapshotStore.read(spark, dir).filter($"k" === 7L).count() == 0)
    // a non-null key value the cast LOSES is refused loudly (hashing a
    // null would silently target bucket pmod(hash(null)) and miss)
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.delete(spark, dir, Seq("notakey").toDF("k"), Seq("k"))
    }
    assert(e.getMessage.contains("not representable"))
    // an originally-null key is exempt (null never equi-joins): no-op,
    // no refusal — frame also carries one real castable key to verify
    // the batch still applies
    SnapshotStore.delete(spark, dir,
      Seq(Some("11"), None).toDF("k"), Seq("k"), retain = true)
    assert(SnapshotStore.read(spark, dir).filter($"k" === 11L).count() == 0)
    // a FRACTIONAL doomed key is refused, not truncated: try_cast(5.5 AS
    // BIGINT) = 5 is non-null, so a null-only guard would silently
    // delete row 5 — a key the caller never named; the round-trip
    // fidelity check catches it
    val eTrunc = intercept[IllegalArgumentException] {
      SnapshotStore.delete(spark, dir, Seq(5.5).toDF("k"), Seq("k"))
    }
    assert(eTrunc.getMessage.contains("not representable"))
    // while an exactly-representable double key round-trips and deletes
    SnapshotStore.delete(spark, dir, Seq(6.0).toDF("k"), Seq("k"), retain = true)
    assert(SnapshotStore.read(spark, dir).filter($"k" === 6L).count() == 0)
  }

  test("cdc feed is exactly-once: a commit crashed before its append is caught up") {
    import spark.implicits._
    val dir = freshDir("snap_cdc_crash").getAbsolutePath
    val cdc = freshDir("snap_cdc_crash_log").getAbsolutePath
    def step(rows: Seq[(Long, Long, String)]): Unit =
      graft.streaming.Streams.cdcBatch(spark, dir, cdc,
        rows.toDF("k", "ts", "v"), Seq("k"), numBuckets = 4,
        orderCol = Some("ts"))
    step(Seq((1L, 1L, "a"), (2L, 1L, "b"))) // v1 logged (2 inserts)
    // crash window: the merge COMMITS v2 but the CDC append never runs
    SnapshotStore.merge(spark, dir,
      Seq((2L, 2L, "b2"), (3L, 2L, "c")).toDF("k", "ts", "v"),
      Seq("k"), numBuckets = 4, orderCol = Some("ts"), retain = true)
    // the retry re-merges identical content (v3) — basing the diff on
    // the last LOGGED version (v1) must catch v2's lost rows
    step(Seq((2L, 2L, "b2"), (3L, 2L, "c")))
    val log = spark.read.parquet(cdc)
    val caught = log.filter($"__version" > 1L)
      .collect().map(r => r.getAs[Long]("k") ->
        (r.getAs[String]("change_type"), r.getAs[String]("new_v"))).toMap
    assert(caught(2L) == ("update", "b2"), "crashed commit's update must be logged")
    assert(caught(3L) == ("insert", "c"), "crashed commit's insert must be logged")
    // and replaying once more appends NOTHING (no duplicates)
    val before = log.count()
    step(Seq((2L, 2L, "b2"), (3L, 2L, "c")))
    assert(spark.read.parquet(cdc).count() == before,
      "replay after a successful append must not duplicate feed rows")
    // net feed state: latest row per key reconstructs the snapshot
    val latest = spark.read.parquet(cdc)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"k")
          .orderBy($"__version".desc)))
      .filter($"rn" === 1 && $"change_type" =!= "delete")
      .select($"k", $"new_v".as("v"))
    val snap = SnapshotStore.read(spark, dir).select($"k", $"v")
    assert(latest.exceptAll(snap).isEmpty && snap.exceptAll(latest).isEmpty)
  }

  test("vacuum after delete: history bounded, emptied buckets never resurrect") {
    import spark.implicits._
    val dir = freshDir("snap_del_vac").getAbsolutePath
    SnapshotStore.merge(spark, dir,
      (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"),
      Seq("k"), numBuckets = 4, retain = true)
    SnapshotStore.delete(spark, dir,
      (1L to 20L).map(Tuple1(_)).toDF("k"), Seq("k"), retain = true) // v2: empty
    SnapshotStore.merge(spark, dir, Seq((5L, "back")).toDF("k", "v"),
      Seq("k"), numBuckets = 4, retain = true) // v3: one key returns
    // time travel still sees all three states pre-vacuum
    assert(SnapshotStore.readAt(spark, dir, 1L).count() == 20)
    assert(SnapshotStore.readAt(spark, dir, 2L).count() == 0)
    assert(SnapshotStore.readAt(spark, dir, 3L).count() == 1)
    SnapshotStore.vacuum(spark, dir, keepLast = 1)
    // only v3 remains readable; its single bucket is the only dir left
    intercept[java.io.FileNotFoundException] {
      SnapshotStore.readAt(spark, dir, 1L)
    }
    val snap = SnapshotStore.read(spark, dir)
    assert(snap.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((5L, "back")))
    val b5 = Seq(5L).toDF("k")
      .select(SnapshotStore.bucketCol(Seq("k"), 4)).head.getInt(0)
    val dirs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("b") && n.contains("_v")).toSeq
    assert(dirs == Seq(s"b${b5}_v3"),
      s"only v3's single live bucket dir may survive, got $dirs")
  }

  test("cdc log: version-partitioned, listing-based watermark, bounded retention") {
    import spark.implicits._
    val dir = freshDir("snap_cdc_ret").getAbsolutePath
    val cdc = freshDir("snap_cdc_ret_log").getAbsolutePath
    def step(rows: Seq[(Long, String)]): Unit =
      graft.streaming.Streams.cdcBatch(spark, dir, cdc,
        rows.toDF("k", "v"), Seq("k"), numBuckets = 4)
    step(Seq((1L, "a")))
    step(Seq((1L, "a2"), (2L, "b")))
    step(Seq((3L, "c")))
    assert(graft.streaming.Streams.lastLoggedVersion(spark, cdc) == Some(3L))
    val dirs = new java.io.File(cdc).listFiles().map(_.getName)
      .filter(_.startsWith("__version=")).sorted.toSeq
    assert(dirs == Seq("__version=1", "__version=2", "__version=3"),
      s"one partition dir per logged version, got $dirs")
    // retention drops old partitions; the watermark (a listing) survives
    graft.streaming.Streams.vacuumCdcLog(spark, cdc, keepLast = 1)
    val kept = new java.io.File(cdc).listFiles().map(_.getName)
      .filter(_.startsWith("__version=")).toSeq
    assert(kept == Seq("__version=3"))
    assert(graft.streaming.Streams.lastLoggedVersion(spark, cdc) == Some(3L))
    // and the next cycle diffs from the retained watermark, not from scratch
    step(Seq((4L, "d")))
    val v4 = spark.read.parquet(cdc).filter($"__version" === 4)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type")))
    assert(v4.toSeq == Seq((4L, "insert")), s"only the new insert, got ${v4.toSeq}")
  }

  test("vacuum never sweeps an in-flight merge's renamed bucket dirs") {
    import spark.implicits._
    val dir = freshDir("snap_vacuum_inflight").getAbsolutePath
    (1 to 3).foreach { i =>
      SnapshotStore.merge(spark, dir,
        (1L to 20L).map(k => (k, s"v$i-$k")).toDF("k", "v"),
        Seq("k"), numBuckets = 4, retain = true)
    }
    val newest = SnapshotStore.currentManifest(spark, dir).get.version
    // simulate a concurrent writer mid-merge at version newest+1: stage
    // scaffold still present AND one bucket already renamed into place
    val stage = new java.io.File(s"$dir/__stage_v${newest + 1}")
    assert(stage.mkdirs())
    val renamed = new java.io.File(s"$dir/b0_v${newest + 1}")
    assert(renamed.mkdirs())
    new java.io.FileOutputStream(new java.io.File(renamed, "part-0.parquet")).close()
    SnapshotStore.vacuum(spark, dir, keepLast = 1)
    assert(renamed.exists(),
      "a bucket dir renamed into place by an in-flight merge must survive vacuum")
    assert(stage.exists(),
      "the in-flight stage scaffold must survive vacuum (pre-existing rule)")
    // while superseded OLD bucket dirs are still swept
    val keptManifest = SnapshotStore.currentManifest(spark, dir).get
    val liveDirs = keptManifest.buckets.values.toSet
    val onDisk = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.startsWith("b") && n.contains("_v")).toSet
    assert(onDisk == liveDirs + s"b0_v${newest + 1}",
      s"only live + in-flight bucket dirs may remain, got $onDisk")
  }

  test("compact: one file per bucket, content identical, empty CDC, no-op replay") {
    import spark.implicits._
    val dirF = freshDir("snap_compact")
    val dir = dirF.getAbsolutePath
    // two merges with a multi-partition shuffle => several files/bucket
    val b1 = (1L to 300L).map(k => (k, s"v$k")).toDF("k", "v").repartition(4)
    val b2 = (151L to 450L).map(k => (k, s"w$k")).toDF("k", "v").repartition(4)
    SnapshotStore.merge(spark, dir, b1, Seq("k"), numBuckets = 8, retain = true)
    SnapshotStore.merge(spark, dir, b2, Seq("k"), numBuckets = 8, retain = true)
    val pre = SnapshotStore.currentManifest(spark, dir).get
    val preContent = SnapshotStore.read(spark, dir).orderBy("k").collect()
    def parquetFiles(d: String): Int =
      Option(new java.io.File(dirF, d).listFiles()).getOrElse(Array.empty)
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(pre.buckets.values.exists(parquetFiles(_) > 1),
      "fixture should produce multi-file buckets")
    val compacted = SnapshotStore.compact(spark, dir, Seq("k"), retain = true)
    assert(compacted.nonEmpty)
    val post = SnapshotStore.currentManifest(spark, dir).get
    assert(post.version == pre.version + 1)
    // every live bucket now holds exactly one parquet file
    post.buckets.values.foreach(d => assert(parquetFiles(d) == 1, s"$d not compacted"))
    // content identical row-for-row, and CDC across the compaction is empty
    assert(SnapshotStore.read(spark, dir).orderBy("k").collect()
      .sameElements(preContent))
    assert(SnapshotStore.changes(spark, dir, pre.version, post.version, Seq("k")).isEmpty)
    // retained history still time-travels
    assert(SnapshotStore.readAt(spark, dir, pre.version).count() == preContent.length)
    // immediate re-compact: pure no-op, no new version
    assert(SnapshotStore.compact(spark, dir, Seq("k"), retain = true).isEmpty)
    assert(SnapshotStore.currentManifest(spark, dir).get.version == post.version)
    // a later single-key merge re-fragments only its bucket; compact heals it
    SnapshotStore.merge(spark, dir, Seq((7L, "x")).toDF("k", "v").repartition(3),
      Seq("k"), numBuckets = 8, retain = true)
    val again = SnapshotStore.compact(spark, dir, Seq("k"), retain = true)
    assert(again.size <= 1, s"only the re-fragmented bucket may compact, got $again")
  }

  test("compact: an oversized bucket splits to N target-size files, not one straggler file") {
    import spark.implicits._
    val dirF = freshDir("snap_compact_sized")
    val dir = dirF.getAbsolutePath
    // ONE bucket (numBuckets = 1) carrying all rows, fragmented over two
    // merges — the planted-skew shape where one-file-per-bucket would
    // produce a single write task and one oversized file
    val pad = "x" * 200
    val b1 = (1L to 2000L).map(k => (k, s"$pad-$k")).toDF("k", "v").repartition(4)
    val b2 = (1001L to 3000L).map(k => (k, s"$pad-w$k")).toDF("k", "v").repartition(4)
    // keep the merges' shuffle fan-out (no AQE coalescing) so the one
    // bucket genuinely fragments — same fixture trick as q_snapshot_compact.
    // The bucket's file count is capped by the upsert shuffle's
    // partition count (the test session runs at 4), so raise it for the
    // fixture merges: 16 tasks leave ~16 files in the single bucket,
    // safely past the size-targeted want of ~5.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val coalesceWas = spark.conf.get(coalesceKey, "true")
    val shuffleKey = "spark.sql.shuffle.partitions"
    val shuffleWas = spark.conf.get(shuffleKey)
    try {
      spark.conf.set(coalesceKey, "false")
      spark.conf.set(shuffleKey, "16")
      SnapshotStore.merge(spark, dir, b1, Seq("k"), numBuckets = 1, retain = true)
      SnapshotStore.merge(spark, dir, b2, Seq("k"), numBuckets = 1, retain = true)
    } finally {
      spark.conf.set(coalesceKey, coalesceWas)
      spark.conf.set(shuffleKey, shuffleWas)
    }
    val pre = SnapshotStore.currentManifest(spark, dir).get
    val preContent = SnapshotStore.read(spark, dir).orderBy("k").collect()
    def files(d: String): Array[java.io.File] =
      Option(new java.io.File(dirF, d).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val preFiles = pre.buckets.values.toSeq.flatMap(files)
    val bucketBytes = preFiles.map(_.length).sum
    // target a quarter of the bucket => want 4-5 output files; the
    // fixture must be MORE fragmented than that for compact to fire
    val target = bucketBytes / 4
    assert(preFiles.length > math.ceil(bucketBytes.toDouble / target).toInt,
      s"fixture bucket has only ${preFiles.length} files — not fragmented " +
        "beyond the size-targeted want")
    val compacted = SnapshotStore.compact(spark, dir, Seq("k"),
      retain = true, targetFileBytes = target)
    assert(compacted == Seq(0))
    val post = SnapshotStore.currentManifest(spark, dir).get
    val outFiles = post.buckets.values.toSeq.flatMap(files)
    val wanted = math.ceil(bucketBytes.toDouble / target).toInt
    assert(outFiles.length >= 2 && outFiles.length <= wanted,
      s"expected 2..$wanted files, got ${outFiles.length}")
    // hash-even salting: no output file dominates (straggler check) —
    // each holds less than half the bucket
    val maxFile = outFiles.map(_.length).max
    assert(maxFile < bucketBytes * 0.6,
      s"one file holds $maxFile of $bucketBytes bytes — salting failed")
    // content identical, CDC empty, and re-compact at the SAME target
    // is a no-op (file count <= want suppresses re-touching)
    assert(SnapshotStore.read(spark, dir).orderBy("k").collect()
      .sameElements(preContent))
    assert(SnapshotStore.changes(spark, dir, pre.version, post.version, Seq("k")).isEmpty)
    assert(SnapshotStore.compact(spark, dir, Seq("k"),
      retain = true, targetFileBytes = target).isEmpty)
  }

  test("null-keyed rows: merge converges, changes() stays silent, reserved names rejected") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = freshDir("snap_nullkey").getAbsolutePath
    // a null key is a legitimate key VALUE (CDC count views merge on
    // group columns that can be null): replaying the same batch must
    // converge to one row, not append a conflicting duplicate per merge
    val batch = Seq((Some(1L), "a"), (None, "n")).toDF("k", "v")
    SnapshotStore.merge(spark, dir, batch, Seq("k"), numBuckets = 2, retain = true)
    SnapshotStore.merge(spark, dir, batch, Seq("k"), numBuckets = 2, retain = true)
    val rows = SnapshotStore.read(spark, dir).collect()
    assert(rows.length == 2, s"null-keyed row duplicated: ${rows.toSeq}")
    // the unchanged null-keyed row must NOT diff as phantom delete+insert
    assert(SnapshotStore.changes(spark, dir, 1L, 2L, Seq("k")).isEmpty,
      "replayed identical content must produce an empty change set")
    // an actual update OF the null key diffs as exactly one update row
    SnapshotStore.merge(spark, dir,
      Seq((Option.empty[Long], "n2")).toDF("k", "v"),
      Seq("k"), numBuckets = 2, retain = true)
    val ch = SnapshotStore.changes(spark, dir, 2L, 3L, Seq("k")).collect()
    assert(ch.length == 1 && ch.head.getAs[String]("change_type") == "update",
      s"null-key update must diff as one update, got ${ch.toSeq}")
    // reserved internal names fail loudly instead of silently clobbering
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.merge(spark, dir,
        Seq((9L, "x", 1L)).toDF("k", "v", "__rn"), Seq("k"), numBuckets = 2)
    }
    assert(e.getMessage.contains("__rn"), e.getMessage)
  }
}
