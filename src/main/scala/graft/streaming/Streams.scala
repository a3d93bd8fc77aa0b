package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming lift (SURVEY.md §2.3 "Streaming", §7 step 5):
  * the exact window/session/dedup expressions that the batch query keys
  * (graft.queries.TimeWindows) verify against the DuckDB oracle, exposed
  * over `readStream`. Batch-first verification + zero-operator-change
  * lift is the design: correctness is proven in batch, the streaming
  * runtime adds watermarks and incremental state.
  *
  * Scale notes: all aggregations key on (window/session, type/user) so
  * state partitions horizontally; watermarks bound state size; dedup
  * uses dropDuplicatesWithinWatermark so the id-set state ages out.
  */
object Streams {

  /** The events schema as generated by the driver (FIXTURES.md §A),
    * with `ts` declared per the PHYSICAL vintage of the file (see
    * Tables.events: TIMESTAMP(MICROS) in current testdata; the older
    * TIMESTAMP(NANOS) generator surfaced as INT64 under nanosAsLong). */
  private def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over the events parquet (file-stream source; any
    * new file landing in the directory becomes a micro-batch). A
    * parquet STREAM needs its schema up front, so the `ts` vintage is
    * probed from the existing file's batch footer (one metadata read)
    * and the nanos→micros shim applies only to the long-nanos vintage —
    * the same dispatch Tables.events does after the fact.
    * Event time stays TIMESTAMP (LTZ): watermarks reject NTZ; with the
    * session pinned to UTC the wall-clock values equal the batch NTZ
    * path, and outputs cast back to NTZ below. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // probe only when the file already landed; an EMPTY landing dir
    // must still return a valid stream (first micro-batch fires when
    // the file arrives), so absent-file defaults to the current
    // generator vintage (TIMESTAMP_MICROS → NTZ). DOCUMENTED LIMIT: a
    // parquet file-stream pins its schema at definition time, so if the
    // first file to land is the OLD nanos vintage (physical INT64), the
    // first micro-batch fails with a parquet type-mismatch — it cannot
    // silently misread (INT64 vs NTZ is a hard reader error, not a
    // reinterpret). Remediation: restart the stream once a file exists
    // and the footer probe above dispatches the correct vintage shim.
    val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val physical =
      if (fs.exists(p)) spark.read.parquet(p.toString).schema("ts").dataType
      else TimestampNTZType
    val raw = spark.readStream
      .schema(eventsSchema(physical))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    physical match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling-window counts — the streaming twin of q_stream_tumbling. */
  def tumblingCounts(events: DataFrame, width: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_val"))
      .select(col("w.start").cast("timestamp_ntz").as("wstart"),
        col("event_type"), col("n"), col("sum_val"))

  /** Sliding-window aggregate — twin of q_stream_sliding. */
  def slidingCounts(events: DataFrame, width: String = "10 minutes",
      slide: String = "5 minutes", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide).as("w"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_val"))
      .select(col("w.start").cast("timestamp_ntz").as("wstart"), col("n"), col("sum_val"))

  /** Session windows per user — twin of q_stream_session. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_val"))
      .select(col("user_id"),
        date_trunc("second", col("w.start")).cast("timestamp_ntz").as("session_start"),
        col("n"), col("sum_val"))

  /** Stateful streaming dedup with bounded state — twin of q_dedup. */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "user_id", "event_type")

  /** Stream-stream interval join — the streaming twin of the
    * oracle-checked batch q_join_range (signup ↔ later purchase by the
    * same user within 2 hours). Both sides carry watermarks and the join
    * condition bounds purchase time relative to signup time in BOTH
    * directions, so Spark can expire buffered state: a signup row is
    * dropped once the purchase-side watermark passes its ts + 2h. Without
    * the time bound the state store would grow without limit — the
    * classic stream-join OOM at scale. */
  def signupPurchaseJoin(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("eid_a"), col("user_id"), col("ts").as("ts_a"))
      .withWatermark("ts_a", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("eid_b"), col("user_id").as("uid_b"), col("ts").as("ts_b"))
      .withWatermark("ts_b", watermark)
    signups.join(purchases,
      col("user_id") === col("uid_b") &&
        col("ts_b") > col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr("INTERVAL 2 HOUR"))
      .select("eid_a", "eid_b", "user_id")
  }

  /** Per-user running stats via custom state (the
    * `flatMapGroupsWithState` surface): count, sum, and the max gap
    * between consecutive events — state a windowless aggregate can't
    * express. State is per-key and O(1); timeout config would age it out
    * in a production stream. */
  case class UserState(n: Long, sum: Double, lastTsMicros: Long, maxGapSec: Double)
  case class UserStats(user_id: Long, n: Long,
      sum_val: Double, max_gap_sec: Double)

  def userStats(events: DataFrame): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .selectExpr("user_id", "unix_micros(ts) AS ts_us", "value")
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserState, UserStats](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[UserState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          val init = state.getOption.getOrElse(UserState(0L, 0.0, Long.MinValue, 0.0))
          val next = sorted.foldLeft(init) { (st, r) =>
            val gap = if (st.lastTsMicros == Long.MinValue) 0.0
              else (r._2 - st.lastTsMicros) / 1e6
            UserState(st.n + 1, st.sum + r._3, r._2, math.max(st.maxGapSec, gap))
          }
          state.update(next)
          // half-up like Spark's round() (values are positive)
          Iterator.single(UserStats(user, next.n,
            math.round(next.sum * 10000) / 10000.0, math.round(next.maxGapSec).toDouble))
      }
  }

  /** Streaming next-event transitions — q_event_transitions lifted onto
    * `flatMapGroupsWithState`: per-user state is O(1) — just the LAST
    * event (type + (ts, event_id) rank), never a buffered history — so
    * state is bounded by the user population at any log volume. Each
    * micro-batch sorts the user's new events by (ts, event_id) (the
    * batch twin's exact tie order), emits one (event_type → next_type)
    * pair per consecutive pair INCLUDING the cross-batch pair seeded
    * from state, then keeps only the final event. Append mode: every
    * pair is emitted exactly once. Same event-time-ordered-batches
    * contract as [[funnelReach]] (`q_gate_stream_transitions` pins
    * parity with the batch window formulation, cross-batch carry
    * included). `user_id` rides on the output row so a replay harness
    * can see WHICH journeys produced cross-batch pairs. */
  case class TransState(lastType: String, lastTsMicros: Long, lastEventId: Long)
  case class Transition(user_id: Long, event_type: String, next_type: String)

  def transitions(events: DataFrame): Dataset[Transition] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS ts_us", "event_id")
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[TransState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._4))
          val out = Seq.newBuilder[Transition]
          var last = state.getOption
          sorted.foreach { case (_, tp, ts, eid) =>
            last.foreach(l => out += Transition(user, l.lastType, tp))
            last = Some(TransState(tp, ts, eid))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming ordered funnel — [[graft.operators.Funnel]] lifted onto
    * `flatMapGroupsWithState`: per-user state is O(1) — (current step
    * index, that step's event time) — NEVER a buffered event list, so
    * state size is bounded by the user population regardless of log
    * volume (the property a 100 TB stream funnel lives by; contrast
    * with buffering approaches whose state grows with events). Each
    * micro-batch sorts the user's new step-typed events by (ts, type)
    * and replays the same greedy first-qualifying-event fold the batch
    * one-scan funnel runs — so when batches land in event-time order
    * (the file/kafka ingest norm; same contract the sessionizer
    * carries), the streamed reach equals the batch funnel exactly
    * (`q_gate_stream_funnel` pins it). Update mode emits each user's
    * current step after every batch that touched them; the per-step
    * report is `max(step)` per user downstream. A production stream
    * would add a state timeout to age out users past every deadline;
    * the fold itself never revisits old events. */
  case class FunnelState(step: Int, lastTsMicros: Long)
  case class FunnelReach(user_id: Long, step: Int)

  def funnelReach(events: DataFrame, steps: Seq[String],
      maxGap: String = "24 hours"): Dataset[FunnelReach] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"funnel steps must be non-empty distinct event types, got $steps")
    // reuse the batch operator's validated interval parse, normalized
    // to micros so the fold compares plain longs
    val gapMicros = {
      val parts = maxGap.trim.toLowerCase.split("\\s+").grouped(2).map {
        case Array(n, unit) =>
          val perUnit = unit.stripSuffix("s") match {
            case "microsecond" => 1L
            case "millisecond" => 1000L
            case "second" => 1000000L
            case "minute" => 60L * 1000000
            case "hour" => 3600L * 1000000
            case "day" => 86400L * 1000000
            case "week" => 7L * 86400 * 1000000
            case other => throw new IllegalArgumentException(
              s"maxGap unit '$other' not supported for the streaming funnel")
          }
          n.toLong * perUnit
        case other => throw new IllegalArgumentException(
          s"maxGap must be count/unit pairs like '24 hours', got '$maxGap'")
      }
      parts.sum
    }
    val stepArr = steps.toIndexedSeq
    events
      .filter(col("event_type").isin(steps: _*))
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS ts_us")
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelReach](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[FunnelState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._2))
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          sorted.foreach { case (_, tp, ts) =>
            if (st.step < stepArr.length) {
              val qualifies =
                if (st.step == 0) tp == stepArr(0)
                else tp == stepArr(st.step) && ts > st.lastTsMicros &&
                  ts <= st.lastTsMicros + gapMicros
              if (qualifies) st = FunnelState(st.step + 1, ts)
            }
          }
          state.update(st)
          Iterator.single(FunnelReach(user, st.step))
      }
  }

  /** Streaming progress feed into the pipeline monitor (the streaming
    * half of reference P10): one structured log entry per finished
    * micro-batch plus terminate events. Returns the listener so callers
    * can detach. */
  def attachProgress(spark: SparkSession, monitor: graft.pipeline.Monitor):
      org.apache.spark.sql.streaming.StreamingQueryListener = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        monitor.log(s"stream ${e.name} started", "info")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        monitor.log(s"stream ${e.progress.name} batch ${e.progress.batchId}: " +
          s"${e.progress.numInputRows} rows", "success")
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        monitor.log(s"stream terminated: ${e.exception.getOrElse("clean")}",
          if (e.exception.isDefined) "error" else "info")
    }
    spark.streams.addListener(l)
    l
  }

  /** Streaming upsert sink: maintain a keyed parquet snapshot from a
    * stream with foreachBatch + [[SnapshotStore.merge]] — the
    * plain-parquet version of a lakehouse MERGE sink. Each micro-batch
    * rewrites ONLY the key-buckets it touches and becomes visible via
    * one atomic manifest rename (see [[SnapshotStore]] for the layout
    * and crash story). A batch replayed after a failure converges to
    * the same snapshot: winners per key are deterministic (`orderCol`
    * DESC, then remaining columns) and the merge is idempotent on key.
    *
    * @param orderCol column ranking duplicate keys within a batch —
    *   pass the event-time column to get latest-state-per-key semantics
    * @return the started query (caller stops it) */
  def upsertSink(updates: DataFrame, targetDir: String, keys: Seq[String],
      checkpointDir: String, numBuckets: Int = 16,
      orderCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        SnapshotStore.merge(batch.sparkSession, targetDir, batch.toDF(), keys,
          numBuckets, orderCol)
      }
      .outputMode("update")
      .start()

  /** Streaming maintenance of the hourly anomaly cells: the same
    * (event_type, hour) integer-cents sums `q_anomaly_zscore` derives
    * from a full scan, kept as streaming aggregation state and upserted
    * into a SnapshotStore per micro-batch. Update mode emits each
    * touched cell's NEW TOTAL (not a delta), so the replace-by-(key)
    * merge is idempotent under foreachBatch's at-least-once replay with
    * no version-log machinery at all — a replayed batch rewrites
    * identical totals. Late events are absorbed, not dropped: no
    * watermark, so a long-closed hour's cell simply updates when a
    * straggler arrives (the batch-parity contract; a deployment that
    * prefers bounded state adds a watermark and accepts finalized
    * cells). State and store are both calendar × type-vocabulary
    * bounded — tiny at any corpus size — while each micro-batch touches
    * only its own events; anomaly scoring
    * ([[graft.queries.EventAnalytics.zscoreFlags]]) is a cell-sized
    * read of the store, never an event-log rescan.
    *
    * Batch-boundary contract: the streaming agg's state carries each
    * cell's running total ACROSS micro-batches, so update-mode emits
    * are correct under any event batching — this consumer derives
    * nothing from row co-occurrence within a batch (unlike basket-pair
    * consumers, which must drain version-atomically; see
    * [[cdcSource]]). */
  def hourlyCellSink(events: DataFrame, targetDir: String,
      checkpointDir: String, numBuckets: Int = 4):
      org.apache.spark.sql.streaming.StreamingQuery =
    upsertSink(graft.queries.EventAnalytics.hourlyCells(events),
      targetDir, Seq("event_type", "h"), checkpointDir, numBuckets)

  /** [[upsertSink]] with a change-data-capture side channel: every
    * micro-batch merges with retain = true, then the per-version change
    * feed (SnapshotStore.changes between the previous and new committed
    * versions) appends to `cdcDir` with the new version stamped on.
    * Downstream consumers read the CDC log instead of re-diffing
    * snapshots; SNAPSHOT retention is bounded by vacuuming after each
    * batch to the last two versions (exactly what the next diff
    * needs); the LOG's replay horizon is the operator's to bound —
    * call [[vacuumCdcLog]] on whatever schedule consumers allow.
    *
    * Replay safety: foreachBatch is at-least-once; the diff base is
    * the highest `__version` already PRESENT IN THE CDC LOG, not the
    * pre-merge manifest version. That closes the crash window between
    * the merge commit and the CDC append: a retry re-merges identical
    * content and commits version a+1, and diffing from the last LOGGED
    * version (a-1) to a+1 catches the crashed commit a's rows that a
    * manifest-based diff (a → a+1, empty) would silently drop — the
    * feed is exactly-once, not at-most-once. A retry AFTER a
    * successful append diffs empty (last logged == crashed commit), so
    * no duplicates either way (SnapshotStoreSpec pins the empty replay
    * diff). The log is PARTITIONED by `__version`, so the diff base is
    * a directory listing (no data read at any log size) and
    * [[vacuumCdcLog]] bounds the replay horizon by dropping old
    * version partitions. */
  def upsertSinkWithCdc(updates: DataFrame, targetDir: String, cdcDir: String,
      keys: Seq[String], checkpointDir: String, numBuckets: Int = 16,
      orderCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        cdcBatch(batch.sparkSession, targetDir, cdcDir, batch.toDF(), keys,
          numBuckets, orderCol)
      }
      .outputMode("update")
      .start()

  /** One merge + CDC-append + vacuum cycle — the foreachBatch body of
    * [[upsertSinkWithCdc]], exposed so batch callers (and the
    * crash-recovery spec) can drive the identical exactly-once
    * protocol without a streaming query. */
  private[graft] def cdcBatch(spark: SparkSession, targetDir: String,
      cdcDir: String, batch: DataFrame, keys: Seq[String],
      numBuckets: Int = 16, orderCol: Option[String] = None,
      retainHistory: Boolean = false): Unit = {
    SnapshotStore.merge(spark, targetDir, batch, keys,
      numBuckets, orderCol, retain = true)
    logChanges(spark, targetDir, cdcDir, keys)
    // retainHistory keeps every version time-travel-readable (the SCD2
    // gate cross-checks readAt against the interval view); the default
    // bounds retention to what the next diff needs
    if (!retainHistory) SnapshotStore.vacuum(spark, targetDir, keepLast = 2)
  }

  /** [[cdcBatch]]'s DELETE twin: remove keys from the snapshot and feed
    * the removals to the same CDC log — changes() classifies the
    * vanished keys as `delete` rows, which [[cdcCountDeltas]] consumers
    * subtract downstream. Same exactly-once story: the diff base is the
    * last LOGGED version, so a crash between the delete commit and the
    * log append is caught up by the next cycle. */
  def cdcDeleteBatch(spark: SparkSession, targetDir: String,
      cdcDir: String, doomed: DataFrame, keys: Seq[String],
      retainHistory: Boolean = false): Unit = {
    SnapshotStore.delete(spark, targetDir, doomed, keys, retain = true)
    logChanges(spark, targetDir, cdcDir, keys)
    if (!retainHistory) SnapshotStore.vacuum(spark, targetDir, keepLast = 2)
  }

  /** [[cdcBatch]]'s UPDATE twin: apply a predicate UPDATE to the
    * snapshot and feed the changed rows to the same CDC log —
    * changes() emits them as `update` rows with old/new images, which
    * the IVM delta consumers ([[cdcCountDeltas]]/[[cdcSumDeltas]])
    * propagate as −old +new. Same exactly-once story as merge/delete:
    * the diff base is the last LOGGED version. */
  def cdcUpdateBatch(spark: SparkSession, targetDir: String,
      cdcDir: String, keys: Seq[String], set: Map[String, Column],
      predicate: Column, retainHistory: Boolean = false): Unit = {
    SnapshotStore.update(spark, targetDir, keys, set, predicate, retain = true)
    logChanges(spark, targetDir, cdcDir, keys)
    if (!retainHistory) SnapshotStore.vacuum(spark, targetDir, keepLast = 2)
  }

  /** The committed version partitions of a CDC log, sorted — THE single
    * listing/parse used by the diff base, the vacuum, and the reader
    * (one place to change if the partition naming ever does; a missing
    * dir is simply the empty list). */
  private[graft] def listCdcVersions(spark: SparkSession, cdcDir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(cdcDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("__version="))
      .flatMap(n => scala.util.Try(n.stripPrefix("__version=").toLong).toOption)
      .sorted.toSeq
  }

  /** The highest version already committed to the CDC log. The log is
    * PARTITIONED by `__version`, so this is a directory LISTING — no
    * data read, constant cost at any log size. A version's partition
    * dir appears only when its append job commits, so the listing is
    * exactly the committed-version record the exactly-once diff base
    * needs (a side-marker written after the append could lag it and
    * cause re-logging; the partition dir cannot). */
  private[graft] def lastLoggedVersion(spark: SparkSession,
      cdcDir: String): Option[Long] =
    listCdcVersions(spark, cdcDir).lastOption

  /** Bound the CDC log's replay horizon: drop version partitions older
    * than the newest `keepLast`. Consumers already past them (their
    * file-source checkpoint records processed files) are unaffected; a
    * NEW consumer replays only the retained horizon — the same
    * contract every log-compacted changefeed has. */
  def vacuumCdcLog(spark: SparkSession, cdcDir: String,
      keepLast: Int = 100): Unit = {
    require(keepLast >= 1, "vacuumCdcLog must keep at least one version")
    val p = new org.apache.hadoop.fs.Path(cdcDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val versions = listCdcVersions(spark, cdcDir)
    versions.dropRight(keepLast).foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(p, s"__version=$v"), true))
    // crashed-publish scaffolds: a __stage_vN at or below the newest
    // LOGGED version is dead (its publish either landed or was retried);
    // a newer one may belong to an in-flight publish — leave it
    versions.maxOption.foreach { newest =>
      fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("__stage_v"))
        .flatMap(n => scala.util.Try(n.stripPrefix("__stage_v").toLong)
          .toOption.filter(_ <= newest).map(_ => n))
        .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(p, n), true))
    }
  }

  /** Append to `cdcDir` every change between the last LOGGED version
    * and the current snapshot head — the exactly-once seam shared by
    * merge and delete cycles (see [[upsertSinkWithCdc]]'s contract). */
  private def logChanges(spark: SparkSession, targetDir: String,
      cdcDir: String, keys: Seq[String]): Unit = {
    val logged = lastLoggedVersion(spark, cdcDir)
    val after = SnapshotStore.currentManifest(spark, targetDir).map(_.version)
    (logged, after) match {
      case (Some(b), Some(a)) if a > b =>
        publishCdcVersion(spark, cdcDir,
          SnapshotStore.changes(spark, targetDir, b, a, keys), a)
      case (None, Some(a)) => // first commit: everything is an insert,
        // emitted under the SAME schema changes() produces (null old_*)
        val snap = SnapshotStore.readAt(spark, targetDir, a)
        val nonKey = snap.columns.filterNot(keys.contains).toSeq
        publishCdcVersion(spark, cdcDir, snap.select(
            keys.map(col) ++ Seq(lit("insert").as("change_type")) ++
              nonKey.map(c => lit(null).cast(snap.schema(c).dataType).as(s"old_$c")) ++
              nonKey.map(c => col(c).as(s"new_$c")): _*), a)
      case _ => () // no new version since the last logged one: no feed
    }
  }

  /** Publish one version's CDC rows ATOMICALLY. [[lastLoggedVersion]]
    * treats the existence of a `__version=N` dir as proof version N is
    * fully logged — so the dir must never become visible half-written.
    * A direct `partitionBy.append` breaks that: FileOutputCommitter
    * moves task files into the final partition dir one by one at job
    * commit, and a crash mid-commit leaves a PARTIAL `__version=N`
    * whose missing rows the next cycle (diffing from N) would drop
    * forever. Instead the rows are written to a stage dir (`__stage_vN`
    * — leading underscore, invisible to every Spark file listing) and
    * published by ONE directory rename, the same data-first /
    * pointer-last protocol SnapshotStore commits with: the partition
    * dir either does not exist or is complete. A crashed attempt leaves
    * only stage garbage, overwritten by the retry and swept by
    * [[vacuumCdcLog]]. The `__version` column is NOT written into the
    * files — exactly like partitionBy, readers recover it from the dir
    * name (partition discovery) or stamp it in [[readCdcLog]]. */
  private def publishCdcVersion(spark: SparkSession, cdcDir: String,
      rows: DataFrame, version: Long): Unit = {
    val base = new org.apache.hadoop.fs.Path(cdcDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(base, s"__stage_v$version")
    rows.write.mode("overwrite").parquet(stage.toString)
    val dest = new org.apache.hadoop.fs.Path(base, s"__version=$version")
    // dest can pre-exist only as a partial dir from a crash under the
    // old in-place protocol; under this one it is either absent or
    // complete (and a complete dir means lastLoggedVersion >= version,
    // so we would not be here) — safe to replace
    if (fs.exists(dest)) fs.delete(dest, true)
    if (!fs.rename(stage, dest))
      throw new java.io.IOException(
        s"CDC publish failed for version $version at $dest")
  }

  /** One committed version's CDC rows, under that version's own file
    * schema. This is the read unit for VERSION-GRANULARITY consumers
    * ([[VersionDrain.drain]], behind every maintained store): a version is
    * published atomically (see [[publishCdcVersion]]) and carries every
    * row of its upstream commit, so a consumer that processes whole
    * versions gets multi-row atomicity — e.g. whole order baskets — for
    * free, which NO file-granularity batching can promise (a version is
    * many part files; any file cap can cut a micro-batch mid-version).
    * The `__version` partition column is deliberately not stamped on:
    * the caller already knows `version` and delta consumers key their
    * own idempotence by it. */
  private[graft] def readCdcVersion(spark: SparkSession, cdcDir: String,
      version: Long): DataFrame =
    spark.read.parquet(s"$cdcDir/__version=$version")

  /** The CDC log as a REPLAYABLE STREAMING SOURCE: the parquet feed
    * [[upsertSinkWithCdc]] appends (one file set per committed version,
    * `__version` stamped on) consumed with `readStream` — downstream
    * incremental refresh subscribes to inserts/updates/deletes instead
    * of re-diffing snapshots. The file-source checkpoint tracks which
    * log files are committed, so a restarted consumer resumes exactly
    * after the last processed version; `maxFilesPerTrigger` bounds
    * micro-batch size during catch-up. Parquet streams need an explicit
    * schema — inferred here from the already-written log (the feed
    * schema is stable: keys + change_type + old_/new_ images).
    *
    * ATOMICITY CONTRACT (round-15 fix): micro-batches are cut on FILE
    * boundaries, and one committed version spans MANY part files (the
    * diff plan's partitioning — 27-32 at shuffle=32), so a version CAN
    * split across micro-batches whenever its file count exceeds
    * `maxFilesPerTrigger`. This source is therefore only safe for
    * PER-ROW ADDITIVE consumers — ones whose result is a sum of
    * independent per-row contributions, where any row partitioning into
    * batches yields the same total: [[cdcCountViewSink]] /
    * [[cdcCountDeltas]] / [[cdcSumDeltas]] (each CDC row contributes
    * ±1/±x to its group independently; StreamingSpec pins this with
    * maxFilesPerTrigger=1, the maximal split). A consumer that derives
    * anything from row CO-OCCURRENCE within a batch (basket pairs,
    * per-order grouping) must NOT consume this stream — it must drain
    * at version granularity via [[listCdcVersions]] +
    * [[readCdcVersion]], as [[VersionDrain.drain]] does. */
  def cdcSource(spark: SparkSession, cdcDir: String,
      maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(readCdcLog(spark, cdcDir).schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(cdcDir)

  /** The whole CDC log as one batch frame under the RECONCILED schema.
    * Snapshot schema evolution flows into the feed (a version appended
    * after a column was added carries `old_/new_` images of it), so
    * version partitions can differ in schema — a plain multi-dir read
    * infers from one partition and silently DROPS the evolved columns.
    * Read each version partition under its own schema and align
    * (null-fill + widen), exactly like snapshot bucket reads. The
    * streaming [[cdcSource]] borrows this union schema: parquet
    * streams null-fill files missing a column, so ADDED columns work
    * in-stream; a type-WIDENED column needs this batch reader (the
    * vectorized reader refuses cross-type reads), which incremental
    * consumers can drive version-by-version via the partition column. */
  def readCdcLog(spark: SparkSession, cdcDir: String): DataFrame = {
    val versions = listCdcVersions(spark, cdcDir)
    require(versions.nonEmpty, s"no CDC log partitions in $cdcDir")
    // Version-depth scaling (round-15 verdict item #6): the general
    // reconcile path below builds a V-branch union plan — fine at log
    // depth ~5, but a 1,000-version log would carry 1,000 scan branches
    // through analysis and execution, plus 1,000 SERIAL driver-side
    // footer probes just to learn the schemas. The COMMON case is a
    // feed whose schema never widened a type, and parquet's own
    // distributed schema merge detects it in ONE job (executors read
    // footers in parallel): mergeSchema accepts added columns and
    // refuses conflicting types — exactly the condition the vectorized
    // reader imposes on a multi-dir scan. When it succeeds, the whole
    // log is ONE partition-discovered read — plan leaves AND driver
    // probes flat in version count (LogDepthProbe: 200 versions read in
    // ~1 s vs ~24 s down the branch-per-version fallback), the same
    // schema-stability trick SnapshotStore.readAligned plays via
    // schemaSince. A type-widened or case-drifted log falls back to
    // per-version align + union — correctness over plan shape.
    val dirs = versions.map(v => s"$cdcDir/__version=$v")
    val merged: Option[org.apache.spark.sql.types.StructType] =
      try {
        val s = spark.read.option("mergeSchema", "true")
          .option("basePath", cdcDir).parquet(dirs: _*).schema
        // case-drifted duplicates ("id" then "ID") merge as TWO fields;
        // only the reconcile path unifies them under one spelling
        val folded = s.fieldNames.map(_.toLowerCase)
        if (folded.distinct.length == folded.length) Some(s) else None
      } catch { case _: Exception => None } // type conflict: fall back
    merged match {
      case Some(s) =>
        // pin the partition column to LongType (inference would give
        // int for small version numbers; consumers read it as long)
        val pinned = org.apache.spark.sql.types.StructType(s.fields.map(f =>
          if (f.name == "__version")
            f.copy(dataType = org.apache.spark.sql.types.LongType)
          else f))
        spark.read.option("basePath", cdcDir).schema(pinned)
          .parquet(dirs: _*)
      case None =>
        val schemas = versions.map(v =>
          spark.read.parquet(s"$cdcDir/__version=$v").schema)
        val union = graft.ingest.SchemaEvolution.reconcile(schemas)
        versions.map { v =>
          graft.ingest.SchemaEvolution.align(
            spark.read.parquet(s"$cdcDir/__version=$v"), union)
            .withColumn("__version", lit(v))
        }.reduce(_ unionByName _)
    }
  }

  /** Type-2 slowly-changing-dimension view of a CDC log: each key's
    * change history as VALIDITY INTERVALS — one row per (key, version
    * it took effect), payload = the new image, `valid_from` = the
    * version that committed it, `valid_to` = the next change's version
    * (null = current). Derived with ONE key-partitioned lead() window
    * over the feed (parallel by key, never a global window): an
    * insert/update row opens an interval; ANY later change — update or
    * delete — closes it via the lead, so deletes contribute no row but
    * still close their predecessor. The log is the single source:
    * nothing reads the snapshot, so the view is log-sized, and
    * point-in-time membership ([[scd2At]]) is a partition-prunable
    * filter instead of a per-version store read. Cross-checked against
    * the store's own time travel by `q_gate_scd2` (every committed
    * version: interval membership == [[SnapshotStore.readAt]]). */
  def scd2(spark: SparkSession, cdcDir: String, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val log = readCdcLog(spark, cdcDir)
    val payload = log.columns.filter(_.startsWith("new_")).toSeq
    val w = Window.partitionBy(keys.map(col): _*).orderBy("__version")
    log.withColumn("valid_to", lead("__version", 1).over(w))
      .filter(col("change_type") =!= "delete")
      .select(keys.map(col) ++
        payload.map(c => col(c).as(c.stripPrefix("new_"))) ++
        Seq(col("__version").as("valid_from"), col("valid_to")): _*)
  }

  /** The dimension as of committed version `v`: rows whose interval
    * covers v. With [[scd2]] output partitioned/sorted by valid_from
    * on disk, the filter prunes to intervals opened ≤ v. */
  def scd2At(scd2Rows: DataFrame, v: Long): DataFrame =
    scd2Rows.filter(col("valid_from") <= v &&
        (col("valid_to").isNull || col("valid_to") > v))
      .drop("valid_from", "valid_to")

  /** Incremental-view-maintenance deltas from a change feed: each CDC
    * row expands to the ±1 contributions its old/new images make to a
    * COUNT-per-group view (insert → +new group, delete → −old group,
    * update → −old +new; an update that keeps the group nets to zero).
    * Summing the deltas per group maintains exactly the aggregate a
    * full re-scan of the snapshot would produce — the classic IVM
    * delta-propagation shape, map-side only (no join back to the
    * snapshot, feed-sized input).
    *
    * PER-ROW ADDITIVE — safe under ANY batching of [[cdcSource]]: each
    * CDC row's contribution is independent of every other row, so a
    * version split across micro-batches (the file-granularity hazard
    * that breaks co-occurrence consumers like GraphEdgeStore) changes
    * nothing — the per-group sum is the same under any row partition.
    * StreamingSpec pins this at maxFilesPerTrigger=1, the maximal
    * split. */
  def cdcCountDeltas(changes: DataFrame, groupCol: String): DataFrame =
    changes.filter(col("change_type").isin("insert", "update"))
      .select(col(s"new_$groupCol").as(groupCol), lit(1L).as("delta"))
      .unionByName(
        changes.filter(col("change_type").isin("delete", "update"))
          .select(col(s"old_$groupCol").as(groupCol), lit(-1L).as("delta")))

  /** SUM-aggregate IVM deltas: like [[cdcCountDeltas]] but propagating
    * a measure column — insert contributes +new value, delete −old,
    * update −old +new (so a value change inside one group nets the
    * difference, and a group move transfers the full amount). Null
    * measures contribute 0 (SQL SUM semantics). Summing per group
    * maintains `SELECT groupCol, sum(valueCol)` without rescanning.
    * PER-ROW ADDITIVE like [[cdcCountDeltas]] — safe under any
    * [[cdcSource]] micro-batch boundary, including mid-version. */
  def cdcSumDeltas(changes: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    changes.filter(col("change_type").isin("insert", "update"))
      .select(col(s"new_$groupCol").as(groupCol),
        coalesce(col(s"new_$valueCol").cast("double"), lit(0.0)).as("delta"))
      .unionByName(
        changes.filter(col("change_type").isin("delete", "update"))
          .select(col(s"old_$groupCol").as(groupCol),
            (-coalesce(col(s"old_$valueCol").cast("double"), lit(0.0))).as("delta")))

  /** Downstream incremental refresh, end-to-end: a streaming COUNT
    * view over `groupCol`, fed by CDC deltas and materialized as a
    * keyed snapshot — snapshot → change feed → downstream aggregate
    * with no rescan of the upstream table. Exactly-once across
    * restarts: the running sums live in the streaming state store
    * (restored from `checkpointDir`), update-mode emits only groups a
    * micro-batch changed, and the snapshot merge is idempotent per
    * key, so a replayed batch rewrites identical totals. A group whose
    * count returns to zero keeps its n=0 row (the merge has no
    * tombstones) — readers filter n != 0. */
  def cdcCountViewSink(changes: DataFrame, groupCol: String,
      targetDir: String, checkpointDir: String,
      numBuckets: Int = 16): org.apache.spark.sql.streaming.StreamingQuery =
    cdcCountDeltas(changes, groupCol)
      .groupBy(groupCol)
      .agg(sum("delta").as("n"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        SnapshotStore.merge(batch.sparkSession, targetDir, batch.toDF(),
          Seq(groupCol), numBuckets)
      }
      .start()

  /** One MERGE step against a bucketed snapshot directory (also usable
    * from batch jobs). Delegates to [[SnapshotStore.merge]]. */
  def mergeIntoSnapshot(spark: SparkSession, targetDir: String,
      batch: DataFrame, keys: Seq[String], numBuckets: Int = 16,
      orderCol: Option[String] = None): Unit =
    SnapshotStore.merge(spark, targetDir, batch, keys, numBuckets, orderCol)

  /** The sink's current snapshot (latest committed manifest version). */
  def readSnapshot(spark: SparkSession, targetDir: String): DataFrame =
    SnapshotStore.read(spark, targetDir)

  /** Streaming near-dup admission — [[graft.operators.IncrementalNearDup]]
    * lifted onto Structured Streaming. Each micro-batch of documents is
    * checked against the persisted band index (everything ever
    * streamed), then joins it; the confirmed (new_id, old_id,
    * est_jaccard) pairs land in `pairsDir` as a batch-partitioned feed.
    *
    * Replay story, split by artifact exactly as the operator documents:
    * foreachBatch is at-least-once, and the two outputs absorb that
    * differently —
    *   - the PAIRS FEED is exactly-once: each batch overwrites its own
    *     `__batch=<id>` partition, and a replayed batch returns the
    *     identical pair set (the ingest's replay contract), so the
    *     rewrite is idempotent — downstream consumers never see
    *     duplicate pair rows;
    *   - the INDEX is at-least-once by design: a replay re-appends its
    *     band rows, lookups collapse them in distinct(), and
    *     [[graft.operators.IndexMaintenance]] gauges (`stats`) and
    *     reclaims (`vacuum`) the growth out-of-band.
    *
    * @return the started query (caller stops it) */
  def nearDupIngestSink(docs: DataFrame, indexDir: String, pairsDir: String,
      checkpointDir: String, idCol: String, textCol: String,
      k: Int = 16, rowsPerBand: Int = 4, parts: Int = 32,
      threshold: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // skip empty micro-batches: founding an index (or stamping
        // marker params) off an empty trigger batch is never intended
        if (!batch.isEmpty) {
          val pairs = graft.operators.IncrementalNearDup.ingest(
            batch.sparkSession, indexDir, batch.toDF(), idCol, textCol,
            k, rowsPerBand, parts, threshold)
          pairs.write.mode("overwrite").parquet(s"$pairsDir/__batch=$batchId")
        }
      }
      .outputMode("append")
      .start()

  /** The accumulated near-dup feed written by [[nearDupIngestSink]],
    * batch provenance in `__batch`. */
  def readNearDupPairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir)

  /** [[nearDupIngestSink]]'s embedding twin:
    * [[graft.operators.IncrementalEmbedDedup]] per micro-batch against
    * the persisted cell-pruned IVF index (frozen founding model, first
    * batch founds it). Same replay split: exactly-once pairs feed via
    * per-batch partition overwrite, at-least-once index reclaimed by
    * [[graft.operators.IndexMaintenance]] (`__cell` partition column);
    * [[graft.operators.IndexDrift]] gauges when the frozen model needs
    * a rebuild — both maintenance calls run out-of-band, never inside
    * the streaming commit path. */
  def embedDedupIngestSink(vectors: DataFrame, indexDir: String,
      pairsDir: String, checkpointDir: String, idCol: String,
      vecCol: String, k: Int = 8, assignCells: Int = 2,
      threshold: Double = 0.8): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // an empty founding batch would otherwise kill the query: the
        // embed ingest refuses to fit a cell model on zero vectors
        if (!batch.isEmpty) {
          val pairs = graft.operators.IncrementalEmbedDedup.ingest(
            batch.sparkSession, indexDir, batch.toDF(), idCol, vecCol,
            k, assignCells, threshold)
          pairs.write.mode("overwrite").parquet(s"$pairsDir/__batch=$batchId")
        }
      }
      .outputMode("append")
      .start()

  /** Run any of the above to a named in-memory sink and process all
    * currently-available input synchronously (test/driver harness). */
  def runToMemory(df: DataFrame, name: String, outputMode: String): Unit = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }
}
