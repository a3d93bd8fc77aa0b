package graft
import java.nio.file.{Files, Paths}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (codegen compiler, shuffle machinery, FS client)
    // so the first measured query isn't charged the JVM startup cost
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // SPARK_GRAFT_ONLY=q_a,q_b: time just those keys (tail-chasing runs);
    // SPARK_GRAFT_REPS=N: run each key N times, report the minimum — the
    // reproducible cost. Default 2: single-pass totals on a shared host
    // swing 1.5-2x run-to-run for identical code (CPU steal, cold page
    // cache, JIT), which would drown real regressions; min-of-2 is
    // stable to a few percent (methodology note in BASELINE.md).
    // trim + fail-fast on unknown keys (mirrors Verify): an untrimmed
    // token or a typo would otherwise bench NOTHING for that key and
    // still print a valid-looking total
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown keys: ${unknown.mkString(", ")}")
    }
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // Disk-WRITING keys get min-of-3 (vs min-of-2 for compute keys):
    // their run-to-run swing is host I/O contention, not plan cost —
    // the round-10 driver capture charged q_snapshot_compact 51 s for
    // a 2.6 s plan purely from a noisy capture window. One extra rep
    // of the write keys costs seconds and makes the reported minimum
    // an actual plan-cost observation.
    val writeKeyPrefixes = Seq("q_snapshot_", "q_sink_", "q_load_",
      "q_cdc_", "q_dedup_incremental", "q_neardup_incremental",
      "q_dedup_embed_incremental",
      "q_ann_ivf_serve", "q_ann_ivf_quantized_serve")
    def repsFor(name: String): Int =
      if (writeKeyPrefixes.exists(name.startsWith)) math.max(reps, 3) else reps
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Janino compiles so far in this JVM: Spark's compile-time histogram
    // takes one sample per generated class compiled, none per cache hit
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // The registry runs alphabetically, so the gate family is a
    // contiguous block and its END is knowable: once the last q_gate_*
    // key has run, the GateMemo's checkpointed fixtures are dead weight
    // for the rest of the capture (scope rule: operator keys never read
    // the memo) — but their blocks would keep squeezing the block
    // manager, which the round-15 driver capture showed inflating the
    // checkpoint-heavy graph keys 2.1-2.4x. Evict at the boundary.
    val lastGateKey = selected.map(_._1).filter(_.startsWith("q_gate_")).lastOption
    val results = selected.map { case (name, fn) =>
      def runOnce(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        // gate keys carry their contract in the row: a (gate, passed)
        // verdict that is FALSE at this scale factor must surface in
        // the errors list, not hide behind a successful row count —
        // the driver's oracle compare only runs at sf0.01, so the
        // bench's sf0.1 pass is the one place a scale-dependent
        // contract break (recall geometry, plan shape) is observable
        val ok = try {
          if (name.startsWith("q_gate_"))
            fn(spark, sfDir).collect().forall(_.getBoolean(1))
          else { fn(spark, sfDir).count(); true }
        } catch { case _: Throwable => false }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      // Adaptive reps: a sub-second key's single-capture cost is mostly
      // host noise (CPU steal on a shared box can inflate a 0.2 s plan
      // to >1 s — the same five keys were flagged as phantom 3-7x
      // regressions in three separate rounds). Cheap keys are cheap to
      // re-run, so: whenever the running MINIMUM is < 1 s, keep going
      // to min-of-5 (gating on the minimum, not the first rep, so a
      // cold-cache first rep over 1 s cannot exempt a sub-second key).
      // Expensive keys keep the configured rep count — re-running a
      // 6 s key 5x would cost more than the noise it removes.
      val base = repsFor(name)
      val compiled0 = compiles()
      var runs = Vector(runOnce())
      val firstCompiles = compiles() - compiled0
      while (runs.size < base) runs :+= runOnce()
      while (runs.map(_._1).min < 1.0 && runs.size < math.max(base, 5))
        runs :+= runOnce()
      // Mid-band keys (round-13 verdict item #1): min-of-2 left a noise
      // blind spot between 1 s and ~5 s — q_graph_triangles was captured
      // at 10 s for a 2.9 s quiet plan, and with only 2 reps one noisy
      // pair is indistinguishable from a regression. Keys whose running
      // minimum sits in [1 s, 5 s) get a third rep (~15 s across the
      // whole registry); ≥5 s keys stay at base — a third rep there
      // costs more than the noise it removes.
      while ({ val m = runs.map(_._1).min; m >= 1.0 && m < 5.0 } &&
          runs.size < math.max(base, 3))
        runs :+= runOnce()
      // ≥5 s keys (round-15 verdict item #1): min-of-2 with no
      // agreement check was the one remaining blind spot — a genuinely
      // 2x-inflated capture of an expensive key was indistinguishable
      // from its real cost because BOTH reps ran in the same polluted
      // window. Disagreement trigger: while the two fastest reps of a
      // ≥5 s key differ by >1.5x, the cost is not yet an observation —
      // rep again, cap 4 (a 4th rep of a 6 s key costs seconds and is
      // only spent when the captures genuinely disagree).
      def disagree(rs: Vector[(Double, Boolean)]): Boolean = {
        val s = rs.map(_._1).sorted
        // size guard: under SPARK_GRAFT_REPS=1 a ≥5 s key skips every
        // earlier rep loop and arrives here with a single run — s(1)
        // would throw, crashing the capture (round-16 advice)
        s.size >= 2 && s.head >= 5.0 && s(1) > s.head * 1.5
      }
      while (disagree(runs) && runs.size < 4) runs :+= runOnce()
      if (lastGateKey.contains(name)) {
        graft.queries.GateMemo.evictAll()
        // ... and reclaim the gate family's DISK residue too (round-17
        // verdict item #1): evictAll frees the memo's block-manager
        // fixtures, but the gates' CDC feeds / SnapshotStores /
        // checkpoints stay on disk under GateMemo.WorkRoot, and their
        // OS page-cache footprint is the suspected mechanism behind
        // the recurring post-gate inflation of the checkpoint-heavy
        // graph keys (flagged rounds 15-17). Deleting the files
        // releases their page cache; every gate rebuilds its subdir
        // from scratch on entry, so a later re-run loses nothing.
        // SPARK_GRAFT_KEEP_GATE_DIRS=1 keeps the residue — the A/B
        // control for proving/disproving the mechanism (BASELINE.md
        // round-18 note); never set in a recorded capture.
        if (!sys.env.contains("SPARK_GRAFT_KEEP_GATE_DIRS"))
          graft.queries.GateMemo.evictWorkDirs()
      }
      // cold = the FIRST rep's time: for memoizing gate keys the min is
      // a memo-hit (0.006 s) while the real store-build cost is paid in
      // rep 1 and was previously invisible — a reader could not see a
      // store-build regression at all (round-17 verdict item #4). For
      // plain keys cold also records the cache-cold cost the min
      // deliberately excludes.
      (name, runs.map(_._1).min, runs.forall(_._2), runs.size, runs.head._1,
        firstCompiles)
    }
    def r3(v: Double): Double = math.round(v * 1000).toDouble / 1000
    // minimal JSON string escaping for the user-controlled sfDir (a
    // quote or backslash in the env var must not emit unparseable JSON)
    def js(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def jmap(rs: Seq[(String, Double, Boolean, Int, Double, Long)]): String =
      rs.map { case (k, v, _, _, _, _) => js(k) + ":" + r3(v) }.mkString("{", ",", "}")
    val errors = results.collect { case (n, _, false, _, _, _) => "\"" + n + "\"" }
    val total = r3(results.map(_._2).sum)
    // Full per-query detail goes to a file; stdout gets ONE COMPACT line
    // (total + the 10 slowest + failures) so it survives a bounded
    // tail-capture by the harness (the round-1 full line was truncated
    // mid-JSON and failed to parse).
    val slowest = results.sortBy(-_._2).take(10)
    // a key-filtered run must not clobber the committed full-benchmark
    // record with subset-only totals
    val detailFile =
      if (only.isEmpty) "BENCH_DETAIL.json" else "BENCH_DETAIL_partial.json"
    // per-key rep counts let a reader of BENCH_DETAIL verify that a
    // suspicious number was (or wasn't) captured under the min-of-5
    // noise policy rather than as a single hot-host sample
    val repsJson = results
      .map { case (k, _, _, n, _, _) => js(k) + ":" + n }.mkString("{", ",", "}")
    // first-rep (cold) times next to the min: the min is the
    // reproducible PLAN cost, the cold rep carries the build/IO cost a
    // memoizing gate pays once — both are needed to read a gate-family
    // capture round-over-round (round-17 verdict item #4; BASELINE.md
    // explains the two columns)
    val coldJson = results
      .map { case (k, _, _, _, c, _) => js(k) + ":" + r3(c) }.mkString("{", ",", "}")
    // codegen compiles in each key's first rep, and in the whole run
    // (warm-up and every rep included)
    val compilesJson = results
      .map { case (k, _, _, _, _, n) => js(k) + ":" + n }.mkString("{", ",", "}")
    Files.writeString(Paths.get(detailFile),
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
      s""""errors":${errors.mkString("[", ",", "]")},"queries":${jmap(results)},""" +
      s""""reps":$repsJson,"cold":$coldJson,"compiles":$compilesJson,""" +
      s""""compiles_total":${compiles()},"sf":${js(sfDir)}}""" + "\n")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},""" +
      s""""errors":${errors.mkString("[", ",", "]")},"queries":${jmap(slowest)},""" +
      s""""detail":${js(detailFile)},"sf":${js(sfDir)}}""")
    spark.stop()
    // A capture with failing keys/gates is NOT a benchmark — it is a
    // correctness incident (round-14: a clean local capture masked 3
    // gate failures the driver's capture of identical code surfaced).
    // Exit non-zero so no wrapper can record a red capture as a
    // baseline; the JSON line above still carries the error list for
    // diagnosis.
    if (errors.nonEmpty) {
      System.err.println(s"[bench] FAILED keys/gates: ${errors.mkString(", ")}" +
        " — capture is unrecordable (exit 1)")
      sys.exit(1)
    }
  }
}
