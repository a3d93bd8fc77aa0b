package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bucket-partitioned, manifest-committed parquet snapshot — the upsert
  * sink's storage layer (the plain-parquet core of what a lakehouse
  * table format provides for MERGE).
  *
  * Layout under the snapshot directory:
  * {{{
  *   _MANIFEST.<v>    one line per bucket: "<bucket>\t<relativeDir>"
  *   b<N>_v<v>/       parquet data for key-bucket N, written at version v
  * }}}
  *
  * Why this shape (vs. rewrite-the-directory-and-swap):
  *  - **Bounded rewrite**: a micro-batch only rewrites the buckets its
  *    keys hash into. With B buckets and a batch touching t of them, the
  *    merge reads/writes t/B of the snapshot instead of all of it — at
  *    scale B is sized so a bucket is a few hundred MB and a small batch
  *    touches a handful.
  *  - **Atomic visibility**: a snapshot version becomes visible via ONE
  *    filesystem rename of its manifest file. Readers resolve the
  *    highest `_MANIFEST.<v>` and read exactly the bucket dirs it lists,
  *    so no reader ever observes a half-written snapshot or a missing
  *    target directory (the failure window of delete-then-rename swaps).
  *    A crash mid-merge leaves the previous manifest live plus orphan
  *    staging dirs, which the next successful merge cleans up.
  *  - **Deterministic winners**: when one batch carries several rows per
  *    key, the surviving row is chosen by `orderCol` DESC (then all
  *    remaining columns DESC as tie-break) — so a replayed batch
  *    converges to byte-identical state, which `dropDuplicates`' pick
  *    -whatever semantics does not guarantee.
  */
object SnapshotStore {

  private val ManifestPrefix = "_MANIFEST."

  /** @param schema the snapshot's reconciled schema as of this version
    *   (None on manifests written before schema tracking; readers fall
    *   back to parquet footer inference). Bucket dirs written at EARLIER
    *   versions may carry a narrower schema on disk — readers align
    *   each dir to this schema (null-fill added columns, cast widened
    *   ones) instead of rewriting history on evolution.
    * @param schemaSince the version at which `schema` last CHANGED: a
    *   bucket dir whose `_v` suffix is ≥ schemaSince is KNOWN to carry
    *   exactly `schema` on disk, so readers take the single multi-dir
    *   scan fast path without any footer probing; only strictly older
    *   dirs (pre-evolution survivors) pay a per-dir read + align.
    *   Defaults to `version` when absent (conservative: probe). */
  final case class Manifest(version: Long, numBuckets: Int,
      buckets: Map[Int, String],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      schemaSince: Option[Long] = None)

  /** The manifest's committed schema — or, for a PRE-TRACKING manifest
    * (written before schemas rode in the header), the union inferred
    * from the live bucket dirs' parquet footers. The single fallback
    * every DML verb (merge/delete/update/compact) shares. */
  private def committedSchema(spark: SparkSession, dir: String,
      m: Manifest): org.apache.spark.sql.types.StructType =
    m.schema.getOrElse(
      spark.read.parquet(m.buckets.values.toSeq.sorted
        .map(d => s"$dir/$d"): _*).schema)

  /** Key-bucket assignment: stable hash of the key columns. Derivable
    * from any row, so it is never stored in the data files. */
  def bucketCol(keys: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(numBuckets)).cast("int")

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Committed manifest versions present in `dir`, ascending. */
  def listVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).map(_.getPath.getName)
      .filter(n => n.startsWith(ManifestPrefix) && !n.endsWith("__tmp"))
      .flatMap(n => scala.util.Try(n.stripPrefix(ManifestPrefix).toLong).toOption)
      .toSeq.sorted
  }

  private def parseManifest(fs: FileSystem, p: Path, v: Long, dir: String): Manifest = {
    val in = fs.open(new Path(p, s"$ManifestPrefix$v"))
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = content.split("\n").filter(_.nonEmpty)
    // header line "#numBuckets=<B>" pins the bucket function for the
    // snapshot's lifetime (a merge with a different B would hash existing
    // keys into buckets outside its touched set and silently drop them)
    val nb = lines.collectFirst {
      case l if l.startsWith("#numBuckets=") => l.stripPrefix("#numBuckets=").toInt
    }.getOrElse(throw new IllegalStateException(
      s"manifest $ManifestPrefix$v in $dir has no #numBuckets header — " +
        "guessing a bucket count would silently orphan rows on the next " +
        "merge; to migrate a pre-header snapshot, prepend the line " +
        "'#numBuckets=<B>' with the B it was originally written with"))
    val schema = lines.collectFirst {
      case l if l.startsWith("#schema=") =>
        org.apache.spark.sql.types.DataType.fromJson(l.stripPrefix("#schema="))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
    val schemaSince = lines.collectFirst {
      case l if l.startsWith("#schemaSince=") =>
        l.stripPrefix("#schemaSince=").toLong
    }
    val buckets = lines.filterNot(_.startsWith("#")).map { line =>
      val Array(b, d) = line.split("\t", 2)
      b.toInt -> d
    }.toMap
    Manifest(v, nb, buckets, schema, schemaSince)
  }

  /** Highest-version manifest in `dir`, if any snapshot was committed. */
  def currentManifest(spark: SparkSession, dir: String): Option[Manifest] = {
    val versions = listVersions(spark, dir)
    if (versions.isEmpty) None
    else {
      val (fs, p) = fsOf(spark, dir)
      Some(parseManifest(fs, p, versions.max, dir))
    }
  }

  /** The manifest of one SPECIFIC committed version — the time-travel
    * entry point. Throws FileNotFoundException when that version was
    * never committed or has been [[vacuum]]ed away. */
  def manifestAt(spark: SparkSession, dir: String, version: Long): Manifest = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(new Path(p, s"$ManifestPrefix$version")))
      throw new java.io.FileNotFoundException(
        s"snapshot $dir has no committed version $version " +
          s"(present: ${listVersions(spark, dir).mkString(", ")}) — " +
          "either it was never committed or vacuum() removed it; " +
          "time-travel reads need merges run with retain = true")
    parseManifest(fs, p, version, dir)
  }

  /** Time-travel read: the snapshot exactly as committed at `version`.
    * Requires the intervening merges to have run with retain = true
    * (the default cleanup deletes replaced bucket dirs); a vacuumed or
    * unretained version fails loudly rather than healing to newest —
    * silently substituting a different version is the one thing a
    * time-travel read must never do. */
  def readAt(spark: SparkSession, dir: String, version: Long): DataFrame =
    readVersion(spark, dir, manifestAt(spark, dir, version))

  /** Change-data-capture between two retained versions: one row per key
    * whose state differs, classified insert / update / delete, with the
    * non-key columns emitted twice under `old_` / `new_` prefixes
    * (nulls on the absent side). A key present in both versions with
    * identical non-key values emits nothing. Plan: one full-outer
    * equi-join on the keys between the two bucket-pruned version reads —
    * the minimal shape any snapshot diff needs. Handles an evolved
    * schema across the boundary: both versions are aligned to the
    * reconciled union schema first, so a column added (or widened)
    * between the versions diffs as null→value / old-type→new-type
    * under the null-safe compare. */
  def changes(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long, keys: Seq[String]): DataFrame = {
    val a0 = readAt(spark, dir, fromVersion)
    val b0 = readAt(spark, dir, toVersion)
    val union = graft.ingest.SchemaEvolution.reconcile(Seq(a0.schema, b0.schema))
    // NULL-SAFE key equality + explicit presence markers: a plain ===
    // never matches a NULL key value, so an unchanged null-keyed row
    // would diff as a phantom delete+insert on EVERY changes() call;
    // and with <=> matching nulls, `keys.head IS NULL` no longer means
    // "side absent" — presence must be its own (non-null) marker column
    val a = graft.ingest.SchemaEvolution.align(a0, union)
      .withColumn("__a_present", lit(1)).as("a")
    val b = graft.ingest.SchemaEvolution.align(b0, union)
      .withColumn("__b_present", lit(1)).as("b")
    val nonKey = union.fieldNames.filterNot(keys.contains).toSeq
    val cond = keys.map(k => col(s"a.$k") <=> col(s"b.$k")).reduce(_ && _)
    // null-safe inequality: a column drifting null→value (or back) is a
    // change; plain =!= would yield NULL and silently drop the row
    val changed = nonKey.map(c => !(col(s"a.$c") <=> col(s"b.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    a.join(b, cond, "full_outer")
      .withColumn("change_type",
        when(col("a.__a_present").isNull, "insert")
          .when(col("b.__b_present").isNull, "delete")
          .otherwise(when(changed, "update")))
      .filter(col("change_type").isNotNull)
      .select(
        keys.map(k => coalesce(col(s"a.$k"), col(s"b.$k")).as(k)) ++
          Seq(col("change_type")) ++
          nonKey.map(c => col(s"a.$c").as(s"old_$c")) ++
          nonKey.map(c => col(s"b.$c").as(s"new_$c")): _*)
  }

  /** Delete manifests older than the newest `keepLast`, plus every
    * bucket dir no kept manifest references. The time-travel retention
    * knob: merges with retain = true accumulate versions, vacuum bounds
    * them. Never touches the newest manifest. */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 1): Unit = {
    require(keepLast >= 1, "vacuum must keep at least the newest version")
    val (fs, p) = fsOf(spark, dir)
    val versions = listVersions(spark, dir)
    if (versions.size <= keepLast) return
    val (drop, keep) = versions.splitAt(versions.size - keepLast)
    val referenced = keep.map(v => parseManifest(fs, p, v, dir))
      .flatMap(_.buckets.values).toSet
    // A bucket dir whose _v suffix exceeds the newest COMMITTED version
    // belongs to an in-flight merge that has already renamed buckets
    // into place but not yet committed its manifest — sweeping those
    // would let that writer commit a manifest referencing deleted dirs
    // (silent snapshot corruption). Mirror the __stage_v rule: only
    // dirs at or below the newest committed version are fair game.
    val newest = versions.max
    def dirVersion(n: String): Option[Long] =
      n.lastIndexOf("_v") match {
        case -1 => None
        case i  => scala.util.Try(n.substring(i + 2).toLong).toOption
      }
    val bucketDirs = fs.listStatus(p).map(_.getPath.getName)
      .filter(n => n.startsWith("b") && dirVersion(n).exists(_ <= newest))
    bucketDirs.filterNot(referenced).foreach(d => fs.delete(new Path(p, d), true))
    drop.foreach(v => fs.delete(new Path(p, s"$ManifestPrefix$v"), false))
    // crashed-merge scaffolds: a __stage_v<N> with N ≤ the newest
    // committed version is dead (its commit either landed — making the
    // stage leftover — or was superseded); N = newest+1 may be an
    // in-flight writer, so leave it (single-writer contract)
    fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("__stage_v"))
      .flatMap(n => scala.util.Try(n.stripPrefix("__stage_v").toLong).toOption
        .filter(_ <= newest).map(_ => n))
      .foreach(n => fs.delete(new Path(p, n), true))
  }

  /** The current snapshot as a DataFrame (all buckets of the latest
    * committed version). Throws if nothing was committed yet.
    *
    * Concurrency contract: single writer; a concurrent merge's
    * post-commit cleanup deletes superseded bucket dirs immediately
    * after the new manifest lands, so a reader that resolved the
    * previous manifest can find a bucket dir missing when the scan
    * resolves its files. [[read]] heals that window by re-resolving the
    * NEWEST manifest once on a missing-path error (the cheap half of
    * reader/writer isolation; a retry against the same version would
    * just fail again). The streaming sink never needs it — its reads
    * run inside foreachBatch, serialized with merges. */
  def read(spark: SparkSession, dir: String): DataFrame =
    readFrom(spark, dir, currentManifest(spark, dir).getOrElse(
      throw new java.io.FileNotFoundException(s"no snapshot manifest in $dir")))

  /** [[read]] with the manifest already resolved — the retry seam: if a
    * bucket dir vanished between resolution and the scan (a merge's
    * cleanup won the race), retry ONCE against the now-newest manifest.
    *
    * Healing covers PLAN-TIME resolution only (file listing, and schema
    * inference for pre-evolution dirs, which run eagerly here): the
    * returned DataFrame is lazy, so a bucket dir deleted between this
    * call and a later action still surfaces as FileNotFoundException at
    * execution time — callers that hold a snapshot DataFrame across a
    * concurrent merge must either materialize it promptly
    * (localCheckpoint) or re-call [[read]] on failure. */
  private[graft] def readFrom(spark: SparkSession, dir: String,
      resolved: Manifest): DataFrame =
    try readVersion(spark, dir, resolved)
    catch {
      case e: Throwable if isMissingPath(e) =>
        val newest = currentManifest(spark, dir).getOrElse(throw e)
        if (newest.version == resolved.version) throw e // genuinely gone
        readVersion(spark, dir, newest)
    }

  /** All buckets of one resolved manifest version, no retry. A
    * manifest with NO buckets (every row deleted) reads as an empty
    * frame under the manifest schema. */
  private def readVersion(spark: SparkSession, dir: String, m: Manifest): DataFrame =
    if (m.buckets.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        m.schema.getOrElse(throw new IllegalStateException(
          s"snapshot $dir version ${m.version} has no buckets and no " +
            "recorded schema — cannot reconstruct an empty frame")))
    else readAligned(spark, m.buckets.values.toSeq.sorted.map(d => s"$dir/$d"),
      m.schema, m.schemaSince.getOrElse(m.version))

  /** The version a bucket dir was written at (parsed from its
    * `b<N>_v<V>` name); None for foreign names. */
  private def dirWrittenAt(d: String): Option[Long] = {
    val name = d.substring(d.lastIndexOf('/') + 1)
    val i = name.lastIndexOf("_v")
    if (i < 0) None
    else scala.util.Try(name.substring(i + 2).toLong).toOption
  }

  /** Read bucket dirs under an optional target schema. A dir written at
    * version ≥ `schemaSince` is KNOWN uniform (the manifest pins the
    * version the schema last changed), so the usual case — no evolution
    * ever, or every surviving dir rewritten since the last one — is ONE
    * multi-dir scan with zero footer probes, the exact plan
    * pre-evolution reads had. Only dirs older than the schema change
    * (pre-evolution survivors) are scanned under their own on-disk
    * schema and aligned (cast + null-fill projections riding the scan's
    * codegen stage) — evolution never rewrites committed bucket dirs,
    * readers reconcile instead. */
  private def readAligned(spark: SparkSession, dirs: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      schemaSince: Long): DataFrame =
    schema match {
      case None => spark.read.parquet(dirs: _*)
      case Some(target) =>
        val (uniform, old) =
          dirs.partition(d => dirWrittenAt(d).exists(_ >= schemaSince))
        // the uniform dirs carry `target` on disk: reading with it skips
        // the footer-inference job and fixes the column order to the
        // manifest's (a delete's USING join writes the keys first)
        def scanUniform = spark.read.schema(target).parquet(uniform: _*)
        if (old.isEmpty) scanUniform
        else {
          val aligned = old.map(d =>
            graft.ingest.SchemaEvolution.align(spark.read.parquet(d), target))
          (if (uniform.isEmpty) aligned else scanUniform +: aligned)
            .reduce(_ unionByName _)
        }
    }

  /** A path-deleted-underneath-the-reader error: schema/file-listing
    * resolution throws AnalysisException PATH_NOT_FOUND, lower layers a
    * (possibly wrapped) FileNotFoundException. The cause walk tracks
    * visited throwables: exception chains can form cycles of any length
    * (not just the self-referential getCause == this), and an error
    * handler must not blow the stack on one. */
  private[graft] def isMissingPath(e: Throwable): Boolean = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean]())
    @scala.annotation.tailrec
    def walk(t: Throwable): Boolean = t match {
      case null => false
      case _ if !seen.add(t) => false // cause cycle — nothing new below
      case _: java.io.FileNotFoundException => true
      case ae: org.apache.spark.sql.AnalysisException
          if ae.getMessage.contains("PATH_NOT_FOUND") => true
      case other => walk(other.getCause)
    }
    walk(e)
  }

  /** Only the named buckets of the current snapshot; None when no
    * manifest is committed yet or none of the named buckets has data.
    * The pruned-read primitive: a batch-sized key lookup reads
    * |batch buckets|/B of the table, not all of it. */
  def readBuckets(spark: SparkSession, dir: String,
      buckets: Seq[Int]): Option[DataFrame] =
    currentManifest(spark, dir).flatMap { m =>
      val dirs = buckets.flatMap(m.buckets.get).sorted.map(d => s"$dir/$d")
      if (dirs.isEmpty) None
      else Some(readAligned(spark, dirs, m.schema,
        m.schemaSince.getOrElse(m.version)))
    }

  /** One MERGE of `batch` into the snapshot at `dir`, rewriting only the
    * buckets the batch's keys hash into. Idempotent on the key: replaying
    * a batch produces a new version with identical content.
    *
    * @param keys      natural-key columns (present in batch and snapshot)
    * @param numBuckets bucket count for the FIRST merge only; committed to
    *   the manifest and validated (throw on mismatch) on every later merge,
    *   since re-bucketing existing keys would orphan rows in untouched dirs
    * @param orderCol  column ranking duplicate keys WITHIN a batch (the
    *   largest value wins, e.g. an event timestamp); remaining columns
    *   break residual ties so the winner is always deterministic
    * @param retain    keep replaced bucket dirs and superseded manifests
    *   so earlier versions stay readable via [[readAt]] (time travel);
    *   bound the accumulation with [[vacuum]]. Default false = clean up
    *   immediately (the original space-bounded behavior) */
  def merge(spark: SparkSession, dir: String, batch: DataFrame,
      keys: Seq[String], numBuckets: Int = 16,
      orderCol: Option[String] = None, retain: Boolean = false): Unit = {
    val (fs, base) = fsOf(spark, dir)
    val committed = currentManifest(spark, dir)
    committed.foreach { m =>
      require(m.numBuckets == numBuckets,
        s"snapshot $dir was committed with numBuckets=${m.numBuckets}; " +
          s"merge called with $numBuckets — re-bucketing would silently drop rows")
    }
    require(keys.forall(batch.columns.contains),
      s"merge batch is missing key column(s) ${keys.filterNot(batch.columns.contains).mkString(", ")}")
    // __rn / __b are synthesized inside the merge (dedup rank, bucket
    // id); a user column with either name would be silently overwritten
    // and then dropped — the manifest schema would still declare it and
    // every later read would null-fill it: silent data loss. Fail loud
    // like the key/bucket-count validations.
    Seq("__rn", "__b").foreach(r => require(!batch.columns.contains(r),
      s"merge batch column '$r' collides with a reserved internal column"))
    // ---- schema evolution: reconcile the batch against the snapshot's
    // committed schema (SchemaEvolution ladder: add → null-fill earlier
    // rows, numeric drift → widen, irreconcilable → string). The TARGET
    // schema is committed to this version's manifest; bucket dirs from
    // earlier versions are NOT rewritten — readers align per dir. Key
    // columns must not change type: the bucket assignment hashes the
    // key's physical type, so widening a key would re-hash existing
    // keys into other buckets and silently lose them on later merges.
    val currentSchema: Option[org.apache.spark.sql.types.StructType] =
      committed.map(committedSchema(spark, dir, _))
    val target = graft.ingest.SchemaEvolution.reconcile(
      currentSchema.toSeq :+ batch.schema)
    currentSchema.foreach { cur =>
      keys.foreach { k =>
        val was = cur(k).dataType
        val now = target(k).dataType
        require(was == now,
          s"key column $k drifted $was -> $now; key types are pinned " +
            "(bucket hashes are type-sensitive) — cast the batch key " +
            "upstream or rebuild the snapshot with the widened key")
      }
    }
    val batchAligned = graft.ingest.SchemaEvolution.align(batch, target)
    // deterministic one-row-per-key within the batch
    val ordCols = (orderCol.toSeq ++
      batchAligned.columns.filterNot(c => keys.contains(c) || orderCol.contains(c)).sorted)
      .map(col(_).desc)
    val winners =
      if (ordCols.isEmpty) batchAligned.dropDuplicates(keys) // key-only schema: rows identical
      else {
        val w = Window.partitionBy(keys.map(col): _*).orderBy(ordCols: _*)
        batchAligned.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
    // reused for touched-set + merge; the snapshot swap must not
    // re-read inputs
    val (updates, touched) =
      checkpointTouched(winners.withColumn("__b", bucketCol(keys, numBuckets)))
    if (touched.isEmpty) return // empty micro-batch: nothing to commit
    val current = committed
    val version = current.map(_.version + 1).getOrElse(1L)
    val existingDirs = current.toSeq.flatMap(m =>
      touched.flatMap(m.buckets.get)).map(d => s"$dir/$d")
    // touched dirs may have been written at different versions under
    // different (pre-evolution) schemas — align each to the target
    // before the upsert (plan-time casts/null-fills, no extra pass)
    // the schema last changed at: this version if the target differs
    // from the committed schema, the inherited marker otherwise (first
    // commit: this version). Inherited from a pre-tracking manifest the
    // marker defaults to that manifest's version — conservative: its
    // older dirs get probed per-dir once, then rewrites heal the set.
    val schemaSince: Long =
      if (currentSchema.exists(_ != target) || committed.isEmpty) version
      else committed.get.schemaSince.getOrElse(committed.get.version)
    // when THIS merge evolves the schema, schemaSince = version, which
    // is newer than every existing dir — all of them align to target;
    // otherwise uniform dirs take the probe-free fast path
    val merged =
      if (existingDirs.isEmpty) updates.drop("__b")
      else graft.operators.Upsert.merge(
        readAligned(spark, existingDirs, Some(target), schemaSince),
        updates.drop("__b"), keys)
    commitVersion(spark, dir, current, version, numBuckets, target,
      schemaSince, touched, merged, keys, retain)
  }

  /** Checkpoint `bucketed` (rows carrying the `__b` bucket id) and
    * return it with its distinct bucket ids, sorted — both from ONE
    * job. The checkpoint is lazy, so the first action over it fills it;
    * that action is a one-pass `mapPartitions` emitting each
    * partition's bucket set (at most B ids), with no shuffle. An eager
    * checkpoint followed by `distinct().collect()` would run the
    * checkpoint job and then a second pass with its own exchange.
    *
    * Lifecycle note for long-running sinks: the checkpoint's blocks are
    * released by the ContextCleaner once the driver drops this batch's
    * references (no public API frees a localCheckpoint
    * deterministically) — so executor storage holds
    * O(batches-awaiting-driver-GC) block sets, not one; sinks
    * processing very large micro-batches on a rarely-collected driver
    * heap should size executor storage for that. */
  private def checkpointTouched(bucketed: DataFrame): (DataFrame, Seq[Int]) = {
    val ckpt = bucketed.localCheckpoint(false)
    val touched = ckpt.select("__b").queryExecution.toRdd
      .mapPartitions(rows => rows.map(_.getInt(0)).toSet.iterator)
      .collect().distinct.sorted.toSeq
    (ckpt, touched)
  }

  /** Delete rows by key — the lakehouse DELETE over the bucketed
    * snapshot, same bounded-rewrite contract as [[merge]]: only the
    * buckets the doomed keys hash into are read (aligned) and
    * rewritten via one left-anti join; the new version commits through
    * the identical stage → rename → manifest protocol. A bucket left
    * EMPTY by the delete drops out of the manifest (rather than
    * pointing at a dir the parquet writer never produced). With
    * retain = true the deleted version stays time-travel-readable and
    * [[changes]] classifies the removed keys as `delete` rows — which
    * the CDC feed and the downstream IVM view consume end-to-end
    * (StreamingSpec). Absent keys: a doomed key that hashes into a
    * COMMITTED bucket rewrites that bucket (content-identical) and the
    * delete commits a new version; a delete whose keys ALL hash into
    * never-written buckets touches nothing and is a pure no-op — no
    * version is committed. Either way replaying the delete converges
    * (idempotent on state; version count differs only by the no-op
    * case committing zero versions instead of one). The doomed frame's
    * key columns are cast to the committed key types before bucketing
    * (bucket hashes are type-sensitive); a non-null key value the cast
    * cannot represent is refused loudly. */
  def delete(spark: SparkSession, dir: String, doomed: DataFrame,
      keys: Seq[String], retain: Boolean = false): Unit = {
    val committed = currentManifest(spark, dir).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no snapshot manifest in $dir — nothing to delete from"))
    require(keys.forall(doomed.columns.contains),
      s"delete frame is missing key column(s) ${keys.filterNot(doomed.columns.contains).mkString(", ")}")
    val numBuckets = committed.numBuckets
    val schema = committedSchema(spark, dir, committed)
    // Pin the doomed frame's key types to the committed schema BEFORE
    // bucketing — xxhash64 hashes per physical type (the same reason
    // merge() refuses key-type drift), so an IntegerType doomed key
    // against a LongType snapshot would compute wrong bucket ids: the
    // wrong dirs get rewritten and the real rows silently survive. A
    // lossless widening cast is accepted; a key the cast cannot
    // represent (overflow/unparseable → null) cannot match any stored
    // row under these key types, so refusing it loudly beats hashing
    // a null into bucket 0.
    val doomedPinned = doomed.select(keys.map { k =>
      val want = schema(k).dataType
      if (doomed.schema(k).dataType == want) col(k)
      else col(k).cast(want).as(k)
    }: _*)
    val lossy = keys.filter(k => doomed.schema(k).dataType != schema(k).dataType)
    if (lossy.nonEmpty) {
      // originally-null keys are exempt: null never equi-joins, so they
      // were no-ops before the cast too — only a value the cast LOSES is
      // a silent hazard. Two loss modes, both refused: (a) the cast
      // nulls (overflow/unparseable — try_cast, because under ANSI mode
      // a plain cast would throw here instead of letting the require
      // explain the contract); (b) the cast TRUNCATES (double 5.5 →
      // bigint 5 is non-null but names a row the caller never asked to
      // delete) — caught by round-tripping back to the original type
      // and demanding null-safe equality with the input value.
      val bad = doomed.filter(lossy.map { k =>
        val committed = schema(k).dataType.sql
        val original = doomed.schema(k).dataType.sql
        val cast = expr(s"try_cast(`$k` AS $committed)")
        val roundTrip = expr(s"try_cast(try_cast(`$k` AS $committed) AS $original)")
        col(k).isNotNull && (cast.isNull || !(roundTrip <=> col(k)))
      }.reduce(_ || _))
        .limit(1).count()
      require(bad == 0,
        s"delete key column(s) ${lossy.mkString(", ")} contain values not " +
          s"representable under the snapshot's committed key types — cast " +
          "upstream (the bucket hash is type-sensitive; a lossy key would " +
          "target the wrong bucket or silently delete a DIFFERENT row)")
    }
    val (doomedKeys, doomedBuckets) = checkpointTouched(doomedPinned.distinct()
      .withColumn("__b", bucketCol(keys, numBuckets)))
    val touched = doomedBuckets
      .filter(committed.buckets.contains) // keys in never-written buckets: no-op
    if (touched.isEmpty) return
    val since = committed.schemaSince.getOrElse(committed.version)
    val existingDirs = touched.flatMap(committed.buckets.get).map(d => s"$dir/$d")
    val remaining = readAligned(spark, existingDirs, committed.schema, since)
      .join(doomedKeys.drop("__b"), keys, "left_anti")
    commitVersion(spark, dir, Some(committed), committed.version + 1,
      numBuckets, schema, since, touched, remaining, keys, retain)
  }

  /** Predicate UPDATE — `UPDATE t SET col = expr, ... WHERE pred` over
    * the bucketed snapshot, completing the DML triad (merge-upsert /
    * delete / update). Bounded-rewrite contract: one read-only pass
    * over the current snapshot finds which buckets hold matching rows
    * (a predicate can touch anything, so the FIND must scan — exactly
    * like Delta/Iceberg's find-touched-files step), then ONLY those
    * buckets are read again and rewritten with the SET expressions
    * applied under `when(pred, ...)`; untouched buckets survive
    * byte-identical. Commits through the same stage → rename →
    * manifest protocol, so with retain = true the changed rows
    * classify as `update` in [[changes]] (old/new images) and flow
    * down the CDC feed like any merge-produced update.
    *
    * Key columns cannot be SET (re-keying re-buckets a row — that is a
    * delete+insert, and silently moving it would orphan the old key's
    * bucket residency); refused loudly. SET expressions are cast to the
    * committed column types, so an evolved snapshot updates under its
    * reconciled schema. A predicate matching nothing is a pure no-op —
    * no version commits (same contract as an all-absent-key delete).
    * Replaying an update converges: the second run's rewrite is
    * content-identical (idempotent on state). */
  def update(spark: SparkSession, dir: String, keys: Seq[String],
      set: Map[String, Column], predicate: Column,
      retain: Boolean = false): Unit = {
    val committed = currentManifest(spark, dir).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no snapshot manifest in $dir — nothing to update"))
    val schema = committedSchema(spark, dir, committed)
    require(set.nonEmpty, "update: empty SET clause")
    val unknown = set.keySet.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"update: SET references column(s) ${unknown.mkString(", ")} not in " +
        s"the snapshot schema (${schema.fieldNames.mkString(", ")})")
    val keyed = set.keySet.intersect(keys.toSet)
    require(keyed.isEmpty,
      s"update: SET touches key column(s) ${keyed.mkString(", ")} — " +
        "re-keying re-buckets the row; model it as delete + insert")
    val since = committed.schemaSince.getOrElse(committed.version)
    val numBuckets = committed.numBuckets
    // find-touched pass: read-only scan, emits only the matching rows'
    // bucket ids (≤ B distinct values through the aggregate)
    val findTouched = readFrom(spark, dir, committed).filter(predicate)
    // the predicate evaluates TWICE (find-touched, then the rewrite's
    // when(pred, ...)), so a nondeterministic one would update an
    // inconsistent row set — matched rows in buckets deemed untouched
    // keep old values while fresh matches in touched buckets change.
    // Refuse loudly, same policy as Delta/Iceberg DML. (Column.expr is
    // private in Spark 4; the analyzed Filter carries the flag.)
    val nonDet = findTouched.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if !f.condition.deterministic => f
    }
    require(nonDet.isEmpty,
      "update predicate must be deterministic — it is evaluated once to " +
        "find touched buckets and again in the rewrite; a nondeterministic " +
        "predicate (rand(), current_timestamp over a race, ...) would " +
        "silently update an inconsistent row set")
    val touched = findTouched
      .select(bucketCol(keys, numBuckets).as("__b"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
      .filter(committed.buckets.contains)
    if (touched.isEmpty) return // nothing matches: pure no-op, no version
    val existingDirs = touched.flatMap(committed.buckets.get).map(d => s"$dir/$d")
    // ONE projection for every SET column: SQL UPDATE evaluates all SET
    // expressions against the OLD row — a sequential withColumn chain
    // would let `SET a = b, b = a` read the already-updated a
    val rewritten = readAligned(spark, existingDirs, committed.schema, since)
      .withColumns(set.map { case (c, expr) =>
        c -> when(predicate, expr.cast(schema(c).dataType)).otherwise(col(c))
      })
    commitVersion(spark, dir, Some(committed), committed.version + 1,
      numBuckets, schema, since, touched, rewritten, keys, retain)
  }

  /** One manifest-sized observation of the store's physical health —
    * what [[compactionGauge]] reports and [[compact]] dispatches on.
    * `overfullBuckets` applies EXACTLY compact's touch rule
    * (files > max(maxFilesPerBucket, size-warranted count)), so
    * `recommend` is true iff a compact call would rewrite anything. */
  final case class CompactionGauge(
      version: Long, buckets: Int, totalFiles: Long, totalBytes: Long,
      maxBucketFiles: Int, overfullBuckets: Seq[Int],
      versionsRetained: Int,
      filesPerBucket: Map[Int, Int], bytesPerBucket: Map[Int, Long]) {
    def recommend: Boolean = overfullBuckets.nonEmpty
  }

  /** The "when should I run OPTIMIZE" half of the compaction story —
    * [[graft.operators.IndexMaintenance.stats]]'s analog for the
    * snapshot store: ONE manifest-sized listing (≤ numBuckets dirs, no
    * data read, constant cost at any data size) reporting the current
    * version's per-bucket file fragmentation plus the retained-version
    * count. A nightly maintenance job is one idempotent
    * gauge-then-compact per store:
    * `if (compactionGauge(...).recommend) compact(...)` — a freshly
    * compacted (or never-fragmented) store gauges quiet and pays no
    * rewrite (`q_gate_snapshot_compact_gauge` pins both directions). */
  def compactionGauge(spark: SparkSession, dir: String,
      maxFilesPerBucket: Int = 1,
      targetFileBytes: Long = 512L * 1024 * 1024): CompactionGauge = {
    require(maxFilesPerBucket >= 1,
      s"maxFilesPerBucket must be >= 1, got $maxFilesPerBucket")
    require(targetFileBytes >= 1,
      s"targetFileBytes must be >= 1, got $targetFileBytes")
    val committed = currentManifest(spark, dir).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no snapshot manifest in $dir — nothing to gauge"))
    val (fs, base) = fsOf(spark, dir)
    val stats: Map[Int, (Int, Long)] = committed.buckets.map { case (b, d) =>
      val files = fs.listStatus(new Path(base, d)).filter(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
      b -> (files.length, files.map(_.getLen).sum)
    }
    def want(b: Int): Int =
      math.max(1, math.ceil(stats(b)._2.toDouble / targetFileBytes).toInt)
    val overfull = committed.buckets.keys.toSeq.sorted
      .filter(b => stats(b)._1 > math.max(maxFilesPerBucket, want(b)))
    CompactionGauge(
      committed.version, committed.buckets.size,
      stats.values.map(_._1.toLong).sum, stats.values.map(_._2).sum,
      stats.values.map(_._1).maxOption.getOrElse(0), overfull,
      listVersions(spark, dir).size,
      stats.view.mapValues(_._1).toMap, stats.view.mapValues(_._2).toMap)
  }

  /** Small-file compaction — the lakehouse OPTIMIZE verb: every
    * incremental merge/delete/update writes its touched buckets with as
    * many files as the shuffle had partitions, so a long-lived snapshot
    * accumulates small files and scan cost grows with VERSION COUNT
    * rather than data size. Compaction rewrites each bucket whose file
    * count exceeds what its byte size warrants into
    * `ceil(bucketBytes / targetFileBytes)` files (one, in the common
    * small-bucket case), committing a content-identical new version
    * through the same stage → rename → manifest protocol — so
    * [[changes]] across a compaction is EMPTY, retained history stays
    * time-travel-readable, and a crashed compaction is invisible
    * (manifest never renamed).
    *
    * SIZE-TARGETED, not one-file-per-bucket: a skewed bucket holding
    * multiple GB must not become a single write task (straggler) nor a
    * single multi-GB parquet file (unsplittable scan burden later).
    * Each touched bucket b gets `want(b) = max(1,
    * ceil(bytes(b) / targetFileBytes))` output files, produced by
    * salting the rewrite shuffle with `xxhash64(keys) % want(b)` —
    * Σ want(b) write tasks run in parallel, and hash-even key salting
    * bounds each staged file near the target size. Hash collisions in
    * the repartition can only MERGE salt groups (fewer, larger files),
    * never fragment them, so re-running immediately is still a pure
    * no-op: every compacted bucket has ≤ want(b) files, nothing
    * commits.
    *
    * Find-touched is a driver-side listing of ≤ numBuckets directories
    * (manifest-sized, never data-sized); the rewrite reads ONLY the
    * touched buckets. Buckets written under a pre-evolution schema come
    * out healed to the committed schema (readAligned casts per dir),
    * eliminating future per-dir alignment probes for those buckets.
    *
    * Reference surface: the reference keeps whole tables as single
    * PGlite images (pgliteService.ts) so it never needs OPTIMIZE; at
    * the 100 TB stance the maintenance verb is mandatory (same role as
    * Delta OPTIMIZE / Iceberg rewrite_data_files).
    *
    * @param targetFileBytes desired on-disk bytes per compacted file
    *   (default 512 MB — parquet sweet spot between scan parallelism
    *   and per-file overhead at cluster scale).
    * @return the bucket ids that were compacted (empty = no-op). */
  def compact(spark: SparkSession, dir: String, keys: Seq[String],
      maxFilesPerBucket: Int = 1, retain: Boolean = false,
      targetFileBytes: Long = 512L * 1024 * 1024): Seq[Int] = {
    require(maxFilesPerBucket >= 1,
      s"maxFilesPerBucket must be >= 1, got $maxFilesPerBucket")
    require(targetFileBytes >= 1,
      s"targetFileBytes must be >= 1, got $targetFileBytes")
    val committed = currentManifest(spark, dir).getOrElse(
      throw new java.io.FileNotFoundException(
        s"no snapshot manifest in $dir — nothing to compact"))
    // per-bucket (file count, byte size) from one manifest-sized
    // listing — THE gauge: compact dispatches off compactionGauge so
    // the advisory recommend bit and the rewrite's touch set can never
    // diverge (a bucket needs compaction when its file count exceeds
    // BOTH the caller's floor and what its size warrants, so a bucket
    // already at its size-targeted layout is left alone and compact()
    // converges)
    val gauge = compactionGauge(spark, dir, maxFilesPerBucket, targetFileBytes)
    def want(b: Int): Int =
      math.max(1, math.ceil(gauge.bytesPerBucket(b).toDouble / targetFileBytes).toInt)
    val touched = gauge.overfullBuckets
    if (touched.isEmpty) return Seq.empty
    val schema = committedSchema(spark, dir, committed)
    val since = committed.schemaSince.getOrElse(committed.version)
    val existingDirs = touched.flatMap(committed.buckets.get).map(d => s"$dir/$d")
    val splits = touched.map(b => b -> want(b)).toMap
    val totalSplits = splits.values.sum
    val bucket = bucketCol(keys, committed.numBuckets)
    // salt = INDEPENDENT key hash mod this bucket's wanted file count:
    // the staged write (partitionBy __b) emits one file per shuffle
    // partition that holds the bucket's rows — Σ want(b) partitions,
    // keyed (bucket, salt), give each touched bucket ≈ want(b)
    // near-target-size files. The salt hash carries an extra literal so
    // it is NOT the bucket hash: `xxhash64(keys) % want` would be
    // constant within a bucket whenever want divides numBuckets (the
    // bucket id already pins hash mod numBuckets), collapsing every
    // split back to one file.
    val wantCol = element_at(
      typedLit(splits.map { case (b, n) => b -> n }), bucket)
    // 4x partition oversampling: with only Σ want(b) partitions, the
    // hash of two same-bucket salt groups collides often enough to
    // merge them into one double-size file; spreading the same groups
    // over 4x partitions makes collisions rare. File count per bucket
    // cannot exceed want(b) regardless — there are only want(b)
    // distinct salt values — so convergence is unaffected, and empty
    // partitions write nothing.
    val salted = readAligned(spark, existingDirs, committed.schema, since)
      .repartition(totalSplits * 4, bucket,
        pmod(xxhash64(keys.map(col) :+ lit("graft-compact-salt"): _*),
          wantCol.cast("long")))
    commitVersion(spark, dir, Some(committed), committed.version + 1,
      committed.numBuckets, schema, since, touched, salted, keys, retain)
    touched
  }

  /** Shared commit tail of [[merge]]/[[delete]]: stage the touched
    * buckets' new content for `version`, rename dirs into place, then
    * make the version visible via ONE manifest rename — data first,
    * pointer last. A touched bucket with NO staged rows (every row
    * deleted) leaves the manifest. */
  private def commitVersion(spark: SparkSession, dir: String,
      current: Option[Manifest], version: Long, numBuckets: Int,
      target: org.apache.spark.sql.types.StructType, schemaSince: Long,
      touched: Seq[Int], data: DataFrame, keys: Seq[String],
      retain: Boolean): Unit = {
    val (fs, base) = fsOf(spark, dir)
    val stage = new Path(base, s"__stage_v$version")
    data.withColumn("__b", bucketCol(keys, numBuckets))
      .write.mode("overwrite").partitionBy("__b").parquet(stage.toString)
    val (staged, emptied) =
      touched.partition(b => fs.exists(new Path(stage, s"__b=$b")))
    staged.foreach { b =>
      val to = new Path(base, s"b${b}_v$version")
      if (fs.exists(to)) fs.delete(to, true) // orphan of a crashed attempt
      if (!fs.rename(new Path(stage, s"__b=$b"), to))
        throw new java.io.IOException(s"failed to stage bucket $b at $to")
    }
    writeManifest(fs, base, version, numBuckets, target, schemaSince,
      current.map(_.buckets).getOrElse(Map.empty) --
        emptied ++ staged.map(b => b -> s"b${b}_v$version"))
    // post-commit cleanup (best-effort): staging scaffold always;
    // replaced bucket dirs + superseded manifests only when not
    // retaining history for time-travel reads
    fs.delete(stage, true)
    if (!retain) current.foreach { m =>
      touched.flatMap(m.buckets.get).foreach(d => fs.delete(new Path(base, d), true))
      fs.delete(new Path(base, s"$ManifestPrefix${m.version}"), false)
    }
    ()
  }

  /** Make `version` visible: write its manifest under a temp name, then
    * ONE rename — the pointer every reader resolves. */
  private def writeManifest(fs: FileSystem, base: Path, version: Long,
      numBuckets: Int, target: org.apache.spark.sql.types.StructType,
      schemaSince: Long, bucketMap: Map[Int, String]): Unit = {
    val tmpManifest = new Path(base, s"$ManifestPrefix${version}__tmp")
    val out = fs.create(tmpManifest, true)
    try out.write((Seq(s"#numBuckets=$numBuckets", s"#schema=${target.json}",
      s"#schemaSince=$schemaSince") ++
      bucketMap.toSeq.sortBy(_._1)
        .map { case (b, d) => s"$b\t$d" }).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmpManifest, new Path(base, s"$ManifestPrefix$version")))
      throw new java.io.IOException(s"manifest commit failed for version $version")
  }

  /** Commit version 1 of a fresh store that holds no rows: a manifest
    * with no buckets under `schema`, which [[read]] serves as an empty
    * frame (a fold's new base when every key netted out). */
  private[graft] def commitEmpty(spark: SparkSession, dir: String,
      numBuckets: Int, schema: org.apache.spark.sql.types.StructType): Unit = {
    val (fs, base) = fsOf(spark, dir)
    fs.mkdirs(base)
    writeManifest(fs, base, 1L, numBuckets, schema, 1L, Map.empty)
  }
}
