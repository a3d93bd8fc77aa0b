package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The consumption and compaction protocol of every maintained store:
  * the VERSION-GRANULARITY CDC drain and the log-FOLD, with their
  * crash recovery. The additive stores reach it through
  * [[SignedCells]] ([[ActivityStore]], [[RfmStore]], [[FunnelStore]],
  * [[GraphEdgeStore]], [[TextIndexStore]], [[StatsStore]]);
  * [[SketchCatalogStore]] drains through it directly.
  *
  * DRAIN: iterate committed CDC versions past a watermark, hand each
  * WHOLE version to the caller's ingest with `batchId = version`, and
  * advance the watermark after the ingest commits. Ingest must be
  * idempotent per version (version-in-key merges), so the watermark
  * only SKIPS work and losing it is always safe.
  *
  * WHY NOT A FILE STREAM: an earlier drain consumed
  * [[Streams.cdcSource]] (readStream + maxFilesPerTrigger=16), whose
  * micro-batches are cut on FILE boundaries — but one committed CDC
  * version is MANY part files (the diff plan's partitioning: 27-32 at
  * shuffle=32), so a version whose files straddled the cap split an
  * order's basket across two foreachBatch invocations and the
  * cross-fragment pairs were silently never counted (562k of 1.196M
  * edges missing at sf0.1/local[32] — BENCH_r14 gate errors). No
  * file-granularity batching can keep a multi-row change whole; the
  * atomicity unit the publish protocol actually guarantees is the
  * VERSION (read whole with [[Streams.readCdcVersion]], atomic by the
  * publish rename).
  *
  * FOLD: store growth is one row per (touched key, version) —
  * batch-bounded per ingest but unbounded over the store's lifetime,
  * and every read re-sums the whole log. The fold reads the CURRENT
  * summed state, rebuilds a fresh store holding it under the base
  * version alone, and swaps directories. Keys whose gauge nets ≤ 0 are
  * physically dropped, matching what the live reads already hide. The
  * fresh store inherits the live manifest's bucket count.
  *
  * EXACTLY-ONCE INTERACTION: folded version rows are GONE, so a drain
  * whose watermark file was lost must NOT re-merge a folded version —
  * pre-fold that replay re-merged identical rows (a no-op); post-fold
  * it would DOUBLE COUNT. The fold therefore records the highest
  * folded version in a `_folded_through` file inside the new store
  * dir, and a drain's skip floor is the MAX of its watermark and every
  * target store's marker (`extraFloors` of [[drain]]). Versions at or
  * below the marker were by construction already ingested (the log
  * being folded IS the record of what was ingested); versions above it
  * replay idempotently exactly as before.
  *
  * CRASH PROTOCOL (data-first, destructive-last): the fresh store is
  * fully built in `<dir>__fold_stage` — marker included — BEFORE the
  * two renames (live -> `<dir>__fold_old`, stage -> live) and the
  * delete of the old dir. A crash before the first rename leaves the
  * live store untouched (stage garbage is overwritten by the next
  * fold); between the renames the COMPLETE stage dir still exists
  * under its stage name, and [[recoverFold]] — called by every
  * subsequent fold AND drain — completes the swap automatically; after
  * the second rename only the dead `__fold_old` remains, swept on the
  * next fold/drain. */
private[graft] object VersionDrain {

  private def foldedThroughPath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, "_folded_through")

  /** Highest CDC version folded into `dir`'s base, if ever folded. */
  private[graft] def readFoldedThrough(spark: SparkSession,
      dir: String): Option[Long] = {
    val p = foldedThroughPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }

  /** SELF-HEAL a store whose fold crashed between the two swap renames
    * (the one protocol window where the live dir is absent): the
    * COMPLETE folded store — manifest and `_folded_through` marker were
    * written into the stage dir BEFORE any rename — still exists under
    * `<dir>__fold_stage`, so recovery is the rename the crashed fold
    * never reached, plus sweeping the dead `<dir>__fold_old`. Returns
    * true when a crashed swap was completed. Safe to call anytime:
    * with a healthy live store it only sweeps leftover `__fold_old`
    * debris (a crash after the second rename but before the old-dir
    * delete); it never touches an INCOMPLETE stage (no manifest or no
    * marker — that crash window leaves the live store intact, and the
    * next fold overwrites the partial stage). Every fold and every
    * drain calls this first, so the protocol's single manual step in
    * the round-15 design ("recovery: rename it to the live name") is
    * now automatic — a store can always be read after any
    * single-crash history. Single-writer contract applies (same as
    * [[foldStoreMulti]]). */
  private[graft] def recoverFold(spark: SparkSession, dir: String): Boolean = {
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(dir + "__fold_stage")
    val old = new org.apache.hadoop.fs.Path(dir + "__fold_old")
    val liveOk = SnapshotStore.currentManifest(spark, dir).nonEmpty
    val recovered =
      if (!liveOk &&
          SnapshotStore.currentManifest(spark, stage.toString).nonEmpty &&
          fs.exists(foldedThroughPath(stage.toString))) {
        // a manifest-less live husk cannot arise from the fold protocol
        // (directory renames are atomic) but must not block the rename
        if (fs.exists(base)) fs.delete(base, true)
        if (!fs.rename(stage, base))
          throw new java.io.IOException(
            s"fold recovery failed: $stage -> $base")
        true
      } else false
    if (fs.exists(old) &&
        SnapshotStore.currentManifest(spark, dir).nonEmpty)
      fs.delete(old, true)
    recovered
  }

  /** Fold one store's version log into a fresh `baseVer`-only base and
    * swap it in (the FOLD and CRASH PROTOCOL of the object doc). `keys`
    * are the logical keys (without `ver`); every measure in `valueCols`
    * is version-summed; the FIRST measure is the liveness gauge — keys
    * where it nets ≤ 0 are dropped (a count of zero means the key has
    * left the corpus). */
  private[graft] def foldStoreMulti(spark: SparkSession, dir: String,
      keys: Seq[String], valueCols: Seq[String], baseVer: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit, max, sum}
    recoverFold(spark, dir) // complete a crashed predecessor's swap first
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = SnapshotStore.currentManifest(spark, dir)
    require(manifest.nonEmpty, s"cannot fold $dir: no committed store")
    val numBuckets = manifest.get.numBuckets
    val stage = new org.apache.hadoop.fs.Path(dir + "__fold_stage")
    val old = new org.apache.hadoop.fs.Path(dir + "__fold_old")
    Seq(stage, old).foreach(p => if (fs.exists(p)) fs.delete(p, true))
    val log = SnapshotStore.read(spark, dir)
    // marker must cover every folded version; an EMPTY committed store
    // has nothing to fold and no version to floor
    val throughRow = log.agg(max("ver")).head()
    if (throughRow.isNullAt(0)) return
    val through = throughRow.getLong(0)
    val summed = log.groupBy(keys.map(col): _*)
      .agg(sum(valueCols.head).as(valueCols.head),
        valueCols.tail.map(c => sum(c).as(c)): _*)
      .filter(col(valueCols.head) > 0L)
      .withColumn("ver", lit(baseVer))
    // merge checkpoints `summed` itself and has written the stage before
    // it returns, so the live dir it reads is renamed only afterwards
    SnapshotStore.merge(spark, stage.toString, summed,
      keys :+ "ver", numBuckets)
    // every key netted out: merge committed nothing, and the new base is
    // an empty store (still readable, still carrying the marker)
    if (SnapshotStore.currentManifest(spark, stage.toString).isEmpty)
      SnapshotStore.commitEmpty(spark, stage.toString, numBuckets,
        summed.schema)
    val out = fs.create(foldedThroughPath(stage.toString), true)
    try out.write(through.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(base, old))
      throw new java.io.IOException(s"fold swap failed: $base -> $old")
    if (!fs.rename(stage, base))
      throw new java.io.IOException(
        s"fold swap failed: $stage -> $base (complete store is at $stage)")
    fs.delete(old, true)
  }

  /** Number of version slices in the store's log above its base — the
    * read-amplification gauge the fold resets to 0 (every read re-sums
    * the whole log, so depth is the per-read overhead multiplier). */
  private[graft] def logDepth(spark: SparkSession, dir: String,
      baseVer: Long): Long = {
    import org.apache.spark.sql.functions.{col, countDistinct}
    if (SnapshotStore.currentManifest(spark, dir).isEmpty) 0L
    else SnapshotStore.read(spark, dir)
      .filter(col("ver") =!= baseVer)
      .agg(countDistinct("ver")).head().getLong(0)
  }

  private def watermarkPath(checkpointDir: String) =
    new org.apache.hadoop.fs.Path(checkpointDir, "_version_watermark")

  /** Last fully-ingested CDC version, if any. */
  private[graft] def readWatermark(spark: SparkSession,
      checkpointDir: String): Option[Long] = {
    val p = watermarkPath(checkpointDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }

  /** Record version `v` as fully ingested (tmp + rename; a crash
    * anywhere here leaves either the old watermark or none — both just
    * re-drain idempotently). */
  private def writeWatermark(spark: SparkSession, checkpointDir: String,
      v: Long): Unit = {
    val p = watermarkPath(checkpointDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent,
      "_version_watermark.tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"watermark write failed at $p")
  }

  /** Drain committed versions > max(watermark, extraFloors) through
    * `ingest(wholeVersionFrame, version)`, advancing the watermark per
    * version. Refuses a checkpoint dir left by a retired file-stream
    * drain (its batch ids were micro-batch ordinals, not versions —
    * resuming it at version granularity would double-count). */
  def drain(spark: SparkSession, cdcDir: String, checkpointDir: String,
      extraFloors: Seq[Long] = Seq.empty)(
      ingest: (DataFrame, Long) => Unit): Unit = {
    val legacy = new org.apache.hadoop.fs.Path(checkpointDir, "offsets")
    val fs = legacy.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(legacy),
      s"$checkpointDir holds a retired file-stream checkpoint; its batch " +
        "ids are not CDC versions — rebuild the store with a fresh " +
        "checkpoint dir instead of resuming it at version granularity")
    val floor =
      (readWatermark(spark, checkpointDir).toSeq ++ extraFloors).maxOption
    Streams.listCdcVersions(spark, cdcDir)
      .filter(v => floor.forall(v > _))
      .foreach { v =>
        ingest(Streams.readCdcVersion(spark, cdcDir, v), v)
        writeWatermark(spark, checkpointDir, v)
      }
  }
}
