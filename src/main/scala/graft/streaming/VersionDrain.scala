package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared VERSION-GRANULARITY CDC drain (round 15) — the consumption
  * protocol both maintained-artifact families ride
  * ([[GraphEdgeStore]] for co-purchase graph stores,
  * [[TextIndexStore]] for the BM25 index): iterate committed CDC
  * versions past a watermark, hand each WHOLE version to the caller's
  * ingest with `batchId = version`, and advance the watermark after the
  * ingest commits.
  *
  * Why version granularity is the only safe batching for multi-row
  * atomicity, and why the watermark may be lost without harm (ingest
  * must be idempotent per version — version-in-key merges), is
  * documented at [[GraphEdgeStore]] and [[Streams.cdcSource]]; this
  * object is just the mechanism, factored so the two stores cannot
  * drift apart in replay semantics.
  *
  * `extraFloors` lets a caller raise the skip floor above the
  * watermark — e.g. [[GraphEdgeStore]] passes each store's
  * `_folded_through` marker, because a folded version's rows are gone
  * and a replay would double-count rather than no-op. */
private[graft] object VersionDrain {

  // ---- log-fold compaction, shared mechanism --------------------------
  // (History and hazards documented at [[GraphEdgeStore]]'s fold
  // section: stage-then-swap crash protocol, the `_folded_through`
  // marker that must floor any replay because folded version rows are
  // GONE, bucket-count inheritance from the live manifest.)

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
    * [[foldStore]]). */
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

  /** Fold one store's version log into a fresh BaseVer-only base and
    * swap it in. `keys` are the logical keys (without `ver`); `valueCol`
    * the additive measure; `baseVer` the store family's base sentinel.
    * Keys whose net value is ≤ 0 are physically dropped. */
  private[graft] def foldStore(spark: SparkSession, dir: String,
      keys: Seq[String], valueCol: String, baseVer: Long): Unit =
    foldStoreMulti(spark, dir, keys, Seq(valueCol), baseVer)

  /** [[foldStore]] for stores carrying SEVERAL additive measures per
    * key (e.g. the profile-stats store's n/nulls/sum/sumsq): every
    * measure is version-summed; the FIRST measure is the liveness
    * gauge — keys where it nets ≤ 0 are dropped (a count of zero means
    * the key has left the corpus). */
  private[graft] def foldStoreMulti(spark: SparkSession, dir: String,
      keys: Seq[String], valueCols: Seq[String], baseVer: Long): Unit = {
    import org.apache.spark.sql.functions.{col, lit, max, sum}
    require(valueCols.nonEmpty, "foldStoreMulti: no measure columns")
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

  /** Depth-triggered fold: compact when the version log exceeds
    * `maxDepth` slices, otherwise a gauge read and nothing else.
    * Returns true when a fold ran. This is the self-triggering
    * maintenance policy — callers drop it after their drain and the
    * store keeps its own read amplification bounded, no runbook: cost
    * is one store-sized rebuild every ~maxDepth batches (amortized
    * 1/maxDepth of a rebuild per batch), in exchange for every read
    * summing at most maxDepth+1 slices. */
  private[graft] def foldIfDeep(spark: SparkSession, dir: String,
      keys: Seq[String], valueCol: String, baseVer: Long,
      maxDepth: Int): Boolean = {
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val deep = logDepth(spark, dir, baseVer) > maxDepth
    if (deep) foldStore(spark, dir, keys, valueCol, baseVer)
    deep
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
