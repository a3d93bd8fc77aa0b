package graft.catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}

/** Cross-dataset relationship discovery (reference README.md:7,20 — the
  * knowledge-graph catalog "auto-discovers relationships between
  * datasets"; no code exists behind the claim, so the semantics here are
  * the standard ones from the schema-matching literature: candidate
  * column pairs by name/type affinity, scored by value-overlap
  * containment).
  *
  * Containment of A in B = |distinct(A) ∩ distinct(B)| / |distinct(A)|
  * — the direction-sensitive inclusion score that finds FK→PK edges
  * (every FK value appears in the PK column, not vice versa).
  *
  * Scale shape (100 TB): each table is scanned ONCE (all its id columns
  * melt in a single explode pass), and the only data-sized exchange is
  * one hash aggregation keyed by value whose per-group state is the ≤ C
  * set of columns containing that value (C = candidate-column count,
  * catalog-sized). Intersections and cardinalities both derive from
  * that one pass by exploding the per-value column sets — never a
  * pairwise value join, never a second scan. For catalogs too wide even
  * for that, [[sketchDiscover]] estimates containment from per-column
  * bottom-k (KMV) hash sketches: O(C·k) state, same single-scan melt.
  */
object Relations {

  private val KeyLike: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType, StringType)

  /** Candidate join-key columns: id-like by name AND a joinable key type
    * (integral or string — real catalogs join on string ids too).
    * Mirrors the semantic classifier's identifier rule (Profile P3) —
    * INCLUDING its case fold: "ID"/"OrderKey" headers (typical uploaded
    * CSVs) are id-like too. */
  def idLikeColumns(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.collect {
      case f if {
        val n = f.name.toLowerCase
        (n == "id" || n.endsWith("_id") || n.endsWith("key")) &&
          KeyLike.contains(f.dataType)
      } => f.name
    }

  /** Column base name with a 1-2 letter table prefix stripped
    * (l_orderkey → orderkey) so FK/PK pairs named in TPC-H style score
    * name-affinity; columns without such a prefix pass through. For
    * composite group names the prefix strips per component
    * (l_partkey+l_suppkey → partkey+suppkey). */
  private def baseName(c: Column): Column =
    regexp_replace(c, "(^|\\+)[a-z]{1,2}_", "$1")

  /** Melt the candidate columns of every table to (table, column, value)
    * rows — ONE scan per table: the id columns ride out together as an
    * exploded array of structs, so a 3-FK fact table is not read three
    * times. Values melt as STRINGS (the common coin across integral and
    * string keys; long→string is a bijection, and the oracle melts with
    * CAST(.. AS VARCHAR) identically). Rows are NOT yet distinct (the
    * downstream value-keyed aggregation dedups for free via
    * collect_set). */
  /** Columns per melt batch: the explode array must stay under
    * spark.sql.codegen.maxFields (default 100) or the projection falls
    * out of whole-stage codegen and the melt goes interpreted — the
    * round-11 width probe measured the cliff as 2x per-column cost at
    * 128 columns. Batches scan the parquet once each but COLUMN-PRUNED
    * to their own slice, so total scanned bytes stay one-table-wide. */
  private val MeltBatch = 48

  private[graft] def melt(tables: Seq[(String, DataFrame)]): DataFrame =
    meltAs(tables, "string")

  private def meltAs(tables: Seq[(String, DataFrame)], tpe: String): DataFrame = {
    val melted = tables.flatMap { case (t, df) =>
      val cols = idLikeColumns(df)
      // codegen-safe width: wide catalogs melt in column batches
      cols.grouped(MeltBatch).map { group =>
        df.select(explode(array(group.map(c =>
          struct(lit(c).as("col"), col(c).cast(tpe).as("v"))): _*)).as("cv"))
          .select(lit(t).as("tbl"), col("cv.col").as("col"), col("cv.v").as("v"))
          .where(col("v").isNotNull)
      }
    }
    require(melted.nonEmpty,
      "relationship discovery found no id-like candidate column (name " +
        "'id'/'*_id'/'*key' + integral or string type) in any input table")
    melted.reduce(_ union _)
  }

  /** The exact path's candidate coder (round-18 optimization, guide
    * §2.3 "project before the exchange / narrower types"): every
    * (table, column-or-group) candidate gets one small int
    * `tableIdx << 16 | colIdx` — driver-side metadata, no data touched
    * — so the data-sized value exchange and the membership explode
    * carry a 4-byte code instead of a struct of two strings; names are
    * re-attached by a broadcast decode join on the CATALOG-sized count
    * frame. Counting distinct values per candidate and per candidate
    * pair is invariant under this bijective relabeling, and the
    * cross-table pair-halving condition only needs SOME strict total
    * order on tables (the mirror union restores both directions), so
    * the high-bits compare serves. Width bounds are validated loudly. */
  private[graft] final case class CodedMelt(
      melted: DataFrame,                 // (tc: Int, v)
      decode: Seq[(Int, String, String)]) // (tc, tbl, col)

  private def codeCandidates(cands: Seq[(String, Seq[String])]): Map[(String, String), Int] = {
    val tIdx = cands.map(_._1).zipWithIndex.toMap
    require(tIdx.size < (1 << 15),
      s"candidate coder supports < 32768 tables, got ${tIdx.size}")
    cands.flatMap { case (t, cs) =>
      require(cs.size < (1 << 16),
        s"candidate coder supports < 65536 candidate columns per table, " +
          s"table $t has ${cs.size}")
      cs.zipWithIndex.map { case (c, i) => (t, c) -> ((tIdx(t) << 16) | i) }
    }.toMap
  }

  /** Exact-path melt to (tc, v) rows. Values melt as LONG when EVERY
    * candidate column across the table set is integral — long→string is
    * injective, so every downstream equality, distinct count and
    * intersection count is provably unchanged while the value-keyed
    * exchange carries 8-byte keys instead of UTF8 strings (probe: exact
    * discover 4.97 → 3.37 s at sf0.1 from the long melt, → 2.73 s with
    * the candidate coder, identical output). A catalog with any string
    * candidate keeps the string values — cross-type equality there is
    * defined on the string image. The KMV sketch path keeps the
    * string-everything [[melt]]: sketch hashes are persisted artifacts
    * ([[graft.streaming.SketchCatalogStore]]) and must stay stable. */
  private[graft] def meltExact(tables: Seq[(String, DataFrame)]): CodedMelt = {
    val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
    val allIntegral = tables.forall { case (_, df) =>
      idLikeColumns(df).forall(c => integral.contains(df.schema(c).dataType)) }
    val tpe = if (allIntegral) "long" else "string"
    val code = codeCandidates(tables.map { case (t, df) => t -> idLikeColumns(df) })
    val melted = tables.flatMap { case (t, df) =>
      val cols = idLikeColumns(df)
      cols.grouped(MeltBatch).map { group =>
        df.select(explode(array(group.map(c =>
          struct(lit(code((t, c))).as("tc"), col(c).cast(tpe).as("v"))): _*)).as("cv"))
          .select(col("cv.tc").as("tc"), col("cv.v").as("v"))
          .where(col("v").isNotNull)
      }
    }
    require(melted.nonEmpty,
      "relationship discovery found no id-like candidate column (name " +
        "'id'/'*_id'/'*key' + integral or string type) in any input table")
    CodedMelt(melted.reduce(_ union _),
      code.toSeq.map { case ((t, c), i) => (i, t, c) })
  }

  /** Melt DECLARED column GROUPS of every table to (table, group, value)
    * rows — the composite-key analogue of [[melt]], one scan per table.
    * A group's value is its components cast to string and joined with
    * the ASCII unit separator `"\u001F"`, so the tuple ("a","b") can
    * never collide with ("ab") or with a different arity's partial (the
    * tuples (1,234) and (12,34) melt to different values) — exactly the
    * partial-containment false positive that scoring a multi-column FK
    * as independent single columns produces (each component contained,
    * the combination not). Rows where ANY component is null are
    * excluded (SQL composite-FK semantics: a null component exempts the
    * row from the constraint). Single-column groups degenerate to
    * [[melt]]'s behavior. Group label = components joined with '+'. */
  private[graft] def meltGroups(tables: Seq[(String, DataFrame)],
      groups: Map[String, Seq[Seq[String]]]): DataFrame = {
    val melted = tables.flatMap { case (t, df) =>
      val gs = groups.getOrElse(t, Seq.empty).filter(_.nonEmpty)
      gs.foreach(g => g.foreach(c => require(df.columns.contains(c),
        s"declared group column $t.$c does not exist")))
      if (gs.isEmpty) None
      else Some(
        df.select(explode(array(gs.map { g =>
          struct(lit(g.mkString("+")).as("col"),
            concat_ws("\u001F", g.map(c => col(c).cast("string")): _*).as("v"),
            g.map(c => col(c).isNotNull).reduce(_ && _).as("ok"))
        }: _*)).as("cv"))
          .where(col("cv.ok"))
          .select(lit(t).as("tbl"), col("cv.col").as("col"), col("cv.v").as("v")))
    }
    require(melted.nonEmpty, "composite discovery: no declared group " +
      "for any input table (pass groups = Map(table -> Seq(Seq(col, ...))))")
    melted.reduce(_ union _)
  }

  /** Score every cross-table candidate column pair; emit pairs with
    * containment ≥ minContainment as
    * (table_a, col_a, table_b, col_b, n_common, containment, verdict).
    * Directed: containment is asymmetric (A→B ≠ B→A).
    *
    * At a non-positive minContainment every cross-table pair of
    * candidates that hold at least one non-null value is emitted, with
    * n_common = 0 (containment 0, verdict "overlap") where the two share
    * no value — the same pair set as [[sketchDiscover]]. A candidate
    * with no non-null value (an empty table, an all-null column)
    * produces no pair on either path. */
  def discover(tables: Seq[(String, DataFrame)], minContainment: Double = 0.5): DataFrame =
    scoreMelted(meltExact(tables), minContainment)

  /** Size-dispatched discovery (round-11 verdict item #5, the
    * q_dedup_cluster auto-dispatch pattern applied to the catalog):
    * exact containment is the right default for small catalogs — its
    * one value-keyed exchange is data-sized, measured 3.4× at 10× data
    * (SCALING.md) — while the KMV sketch's exchange is k-bounded per
    * column (1.7× at 10×). The dispatch signal is the MELT VOLUME
    * upper bound Σ rows(t)·|idCols(t)|, computed from input row counts
    * (metadata-cheap on parquet/file sources — no data scan, unlike an
    * approx-distinct probe which would cost as much as the exact pass
    * it is trying to avoid). Distinct volume ≤ melt volume, so the
    * bound only ever over-triggers toward the SAFE side (sketching a
    * catalog that exact could still handle costs accuracy ε≈1/√k, not
    * a blown exchange). Default threshold 50M melted cells ≈ the
    * value-keyed exchange a single executor comfortably combines
    * map-side. */
  /** NOTE on the dispatch probe's cost model: "metadata-cheap" assumes
    * each input is a plain FILE-BACKED frame (parquet/ORC scan), where
    * `count()` is answered from footer row counts. For a VIEW or derived
    * DataFrame the count executes the full upstream plan once for the
    * dispatch decision and again inside discover/sketchDiscover — pass
    * `rowHints` (from pipeline metadata, ANALYZE TABLE stats, or a prior
    * materialization) to skip the probe for those inputs; Catalyst's
    * optimizer row-count statistic is used as a free second source, but
    * ONLY when the plan is row-count-preserving above its leaf (scan +
    * projections) — a Filter/Join/Aggregate makes rowCount a CBO
    * selectivity ESTIMATE, and an under-estimate would dispatch an
    * oversized input to exact, the unsafe side (round-13 advice), so
    * estimated plans fall through to count(). An over-estimate in a
    * HINT only pushes toward the sketch — the safe side — so coarse
    * hints are fine. */
  def discoverAuto(tables: Seq[(String, DataFrame)],
      minContainment: Double = 0.5, k: Int = 256,
      maxExactVolume: Long = 50L * 1000 * 1000,
      rowHints: Map[String, Long] = Map.empty): DataFrame = {
    def statsRowCount(df: DataFrame): Option[Long] = {
      val plan = df.queryExecution.optimizedPlan
      val preservesRowCount = plan.collect { case p => p }.forall {
        case _: org.apache.spark.sql.catalyst.plans.logical.Project => true
        case leaf if leaf.children.isEmpty => true
        case _ => false
      }
      if (preservesRowCount) plan.stats.rowCount.map(_.toLong) else None
    }
    def rowsOf(name: String, df: DataFrame): Long =
      rowHints.get(name)
        .orElse(statsRowCount(df))
        .getOrElse(df.count())
    val volume = tables.map { case (name, df) =>
      rowsOf(name, df) * math.max(1, idLikeColumns(df).size.toLong) }.sum
    if (volume <= maxExactVolume) discover(tables, minContainment)
    else sketchDiscover(tables, k, minContainment)
  }

  /** Composite-key discovery: score declared multi-column groups as
    * single candidates (see [[meltGroups]] for the collision-safe value
    * encoding). Same output schema, counting plan, and scale shape as
    * [[discover]] — the group struct rides the same single scan per
    * table and the same one value-keyed exchange; a composite value is
    * just a longer string key. Declared groups (PK metadata, profiled
    * uniqueness) are the practical input at catalog scale — enumerating
    * all column combinations is exponential and name/type affinity
    * already prunes the single-column case. The non-positive-threshold
    * contract is [[discover]]'s, per group: every cross-table pair of
    * groups with at least one fully non-null tuple is emitted, with
    * n_common = 0 where they share no tuple; a group with no such tuple
    * produces no pair here or in [[sketchDiscoverComposite]]. */
  def discoverComposite(tables: Seq[(String, DataFrame)],
      groups: Map[String, Seq[Seq[String]]],
      minContainment: Double = 0.5): DataFrame =
    scoreMelted(meltGroupsCoded(tables, groups), minContainment)

  /** [[meltGroups]] through the candidate coder — the composite twin of
    * [[meltExact]] (group values stay collision-safe concat STRINGS;
    * only the group LABEL rides as a code). */
  private[graft] def meltGroupsCoded(tables: Seq[(String, DataFrame)],
      groups: Map[String, Seq[Seq[String]]]): CodedMelt = {
    val labels = tables.map { case (t, _) =>
      t -> groups.getOrElse(t, Seq.empty).filter(_.nonEmpty).map(_.mkString("+")) }
    val code = codeCandidates(labels)
    val melted = tables.flatMap { case (t, df) =>
      val gs = groups.getOrElse(t, Seq.empty).filter(_.nonEmpty)
      gs.foreach(g => g.foreach(c => require(df.columns.contains(c),
        s"declared group column $t.$c does not exist")))
      if (gs.isEmpty) None
      else Some(
        df.select(explode(array(gs.map { g =>
          struct(lit(code((t, g.mkString("+")))).as("tc"),
            concat_ws("\u001F", g.map(c => col(c).cast("string")): _*).as("v"),
            g.map(c => col(c).isNotNull).reduce(_ && _).as("ok"))
        }: _*)).as("cv"))
          .where(col("cv.ok"))
          .select(col("cv.tc").as("tc"), col("cv.v").as("v")))
    }
    require(melted.nonEmpty, "composite discovery: no declared group " +
      "for any input table (pass groups = Map(table -> Seq(Seq(col, ...))))")
    CodedMelt(melted.reduce(_ union _),
      code.toSeq.map { case ((t, c), i) => (i, t, c) })
  }

  private[graft] def scoreMelted(cm: CodedMelt, minContainment: Double): DataFrame = {
    val spark = cm.melted.sparkSession
    import spark.implicits._
    // per-value candidate-code sets: the one data-sized exchange.
    // collect_set dedups codes per value with ≤ C ints of
    // partial-aggregate state per group — map-side combine bounds the
    // shuffle to distinct (value, code) pairs, and the 4-byte code
    // replaces the former struct-of-two-strings (probe: 3.37 → 2.73 s
    // at sf0.1 on top of the long melt).
    val columnSets = cm.melted.groupBy("v")
      .agg(collect_set(col("tc")).as("cs"))
    // per value, emit its singleton memberships (tb = -1, codes are
    // non-negative — these count cardinalities) AND its cross-table
    // pairs (these count intersections) in ONE exploded pass, so one
    // data-sized aggregation produces the whole catalog-sized count
    // table: no second scan, no join below the final combine.
    // Intersection counts are SYMMETRIC, so pairs are exploded only for
    // table-code-ascending pairs (halves the ≤ C² per-value fan-out —
    // any strict total order on tables serves, the high bits are the
    // table index) and the mirror direction is re-derived from the
    // catalog-sized counts below.
    val memberships = concat(
      transform(col("cs"), a => struct(a.as("ta"), lit(-1).as("tb"))),
      flatten(transform(col("cs"), a =>
        transform(filter(col("cs"), b => shiftright(b, 16) > shiftright(a, 16)),
          b => struct(a.as("ta"), b.as("tb"))))))
    // catalog-sized (≤ C + C²/2 rows) — checkpoint so the cardinality
    // lookup and the pair scoring below reread 300 rows, not the data
    val counts = columnSets
      .select(explode(memberships).as("m"))
      .groupBy(col("m.ta").as("ta"), col("m.tb").as("tb"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)

    // names re-attach on the CATALOG-sized frames via broadcast decode
    val decode = cm.decode.toDF("__tc", "__tbl", "__col")
    val card = counts.where(col("tb") === -1)
      .join(broadcast(decode), col("ta") === col("__tc"))
      .select(col("__tbl").as("tbl"), col("__col").as("col"), col("n").as("nd"))
    val oneWay = counts.where(col("tb") =!= -1)
    val shared = oneWay
      .select(col("ta"), col("tb"), col("n").as("n_common"))
      .unionByName(oneWay.select(col("tb").as("ta"), col("ta").as("tb"),
        col("n").as("n_common")))
    // at a non-positive threshold a pair sharing NO value qualifies too
    // (containment 0), but value-derived pair rows never see it: pair
    // every two cross-table candidates holding a value — the sketch
    // path's pair set — with n_common defaulting to 0. Catalog-sized
    // (≤ C² rows), built only below the thresholds callers use.
    val pairs = if (minContainment > 0) shared else {
      val codes = counts.where(col("tb") === -1).select(col("ta"))
      codes.crossJoin(codes.select(col("ta").as("tb")))
        .where(shiftright(col("ta"), 16) =!= shiftright(col("tb"), 16))
        .join(shared, Seq("ta", "tb"), "left")
        .select(col("ta"), col("tb"), coalesce(col("n_common"), lit(0L)).as("n_common"))
    }
    val inter = pairs
      .join(broadcast(decode.select(col("__tc"),
        col("__tbl").as("table_a"), col("__col").as("col_a"))),
        col("ta") === col("__tc"))
      .join(broadcast(decode.select(col("__tc").as("__tc2"),
        col("__tbl").as("table_b"), col("__col").as("col_b"))),
        col("tb") === col("__tc2"))
      .select(col("table_a"), col("col_a"), col("table_b"), col("col_b"),
        col("n_common"))

    val containment = col("n_common").cast("double") / col("nd")
    inter
      .join(broadcast(card), col("table_a") === col("tbl") && col("col_a") === col("col"))
      .where(containment >= minContainment)
      .select(col("table_a"), col("col_a"), col("table_b"), col("col_b"),
        col("n_common").cast("bigint").as("n_common"),
        round(containment, 4).as("containment"),
        when(containment >= 0.95 && baseName(col("col_a")) === baseName(col("col_b")),
          "fk_candidate")
          .when(containment >= 0.95, "contained")
          .otherwise("overlap").as("verdict"))
      .orderBy("table_a", "col_a", "table_b", "col_b")
  }

  /** Sketch-based variant for catalogs where even the value-keyed
    * aggregation is too wide: per column, keep the k smallest
    * xxhash64(value) hashes (a bottom-k / KMV sketch — one aggregation
    * pass, O(C·k) result). Containment of A in B is then estimated on
    * the UNIFIED bottom-k of A∪B: of the k smallest hashes of the
    * union, the fraction of A's members also in B estimates |A∩B|/|A|
    * without ever touching raw values again. Standard KMV estimator
    * (Beyer et al., SIGMOD 2007 shape). Emits the same schema as
    * [[discover]] with containment replaced by the estimate. */
  /** Per-column KMV sketches of a table set — (tbl, col, sketch) rows,
    * the persistable catalog artifact incremental discovery compares
    * against. One aggregation pass: the native bottom_k_distinct
    * aggregate (graft.functions.BottomKDistinctAgg) keeps a k-bounded
    * distinct heap per (column × map partition), so the only exchange
    * carries ≤ k hashes per column per partition — no distinct shuffle,
    * no window sort, never a full distinct-value set in memory. */
  def columnSketches(tables: Seq[(String, DataFrame)], k: Int = 256): DataFrame = {
    // call_function resolves bottom_k_distinct at analysis time — on a
    // session built without GraftExtensions the sketch path would fail
    // unresolved, so install it here (no-op when already registered)
    graft.functions.BottomKAggregate.register(tables.head._2.sparkSession)
    sketchMelted(melt(tables), k)
  }

  /** KMV sketches of DECLARED column groups — the composite-key twin of
    * [[columnSketches]]: the group's collision-safe concatenated value
    * (see [[meltGroups]]) hashes like any other, so a composite FK
    * sketches, persists, and scores through the identical machinery.
    * Pair with [[sketchDiscoverAgainst]] for incremental discovery of a
    * new table's composite keys against a stored catalog. */
  def compositeSketches(tables: Seq[(String, DataFrame)],
      groups: Map[String, Seq[Seq[String]]], k: Int = 256): DataFrame = {
    graft.functions.BottomKAggregate.register(tables.head._2.sparkSession)
    sketchMelted(meltGroups(tables, groups), k)
  }

  /** Composite-key discovery on sketches only — same output schema as
    * [[discoverComposite]] with KMV-estimated containment. */
  def sketchDiscoverComposite(tables: Seq[(String, DataFrame)],
      groups: Map[String, Seq[Seq[String]]], k: Int = 256,
      minContainment: Double = 0.5): DataFrame =
    scoreSketches(compositeSketches(tables, groups, k), k, minContainment)

  private def sketchMelted(melted: DataFrame, k: Int): DataFrame =
    melted
      .select(col("tbl"), col("col"), xxhash64(col("v")).as("h"))
      .groupBy("tbl", "col")
      .agg(call_function("bottom_k_distinct", col("h"), lit(k)).as("sketch"))

  def sketchDiscover(tables: Seq[(String, DataFrame)], k: Int = 256,
      minContainment: Double = 0.5): DataFrame =
    scoreSketches(columnSketches(tables, k), k, minContainment)

  /** Score an already-materialized sketch set ([[columnSketches]]'s
    * schema) — the entry point for sketches served from a maintained
    * artifact ([[graft.streaming.SketchCatalogStore]]) rather than
    * rebuilt from table data. */
  def discoverFromSketches(sketches: DataFrame, k: Int = 256,
      minContainment: Double = 0.5): DataFrame =
    scoreSketches(sketches, k, minContainment)

  /** Incremental discovery: score a NEW dataset's columns against an
    * already-sketched catalog WITHOUT touching the catalog tables' data
    * — the production shape when one table arrives into a thousand-table
    * catalog: O(new table) scan + a sketch-vs-sketch compare, not a
    * catalog rescan. `catalogSketches` is [[columnSketches]] output
    * (persist it wherever the catalog lives); emits both directions for
    * every (new column, catalog column) pair. */
  def sketchDiscoverAgainst(newTables: Seq[(String, DataFrame)],
      catalogSketches: DataFrame, k: Int = 256,
      minContainment: Double = 0.5): DataFrame = {
    val newSk = columnSketches(newTables, k)
    scoreSketches(newSk.unionByName(catalogSketches), k, minContainment)
      .where(col("table_a").isin(newTables.map(_._1): _*) ||
        col("table_b").isin(newTables.map(_._1): _*))
  }

  /** KMV containment estimates for every cross-table sketch pair with
    * estimated containment ≥ minContainment. At a non-positive threshold
    * every cross-table pair of sketches is emitted, with n_common = 0
    * where the two share no hash — the exact path's pair set
    * ([[discover]]). A candidate with no non-null value melts no row,
    * so it has no sketch and produces no pair. */
  private def scoreSketches(sk0: DataFrame, k: Int,
      minContainment: Double): DataFrame = {
    graft.functions.SketchExpressions.register(sk0.sparkSession)
    // materialize the sketch set before the self-join: both join sides
    // reference it, and without a checkpoint each side re-runs the FULL
    // sketch pipeline — corpus scans included (PLANS.md showed lineitem
    // scanned twice in the incremental key). The set is C×k hashes —
    // a few KB at any corpus size.
    val sk = sk0.localCheckpoint(true)
    val pairs = sk.as("a").join(broadcast(sk.as("b")), col("a.tbl") =!= col("b.tbl"))
    // unified-bottom-k membership counts in ONE two-pointer merge per
    // pair (kmv_containment; sketches are sorted+distinct by the
    // bottom_k_distinct contract) — bit-identical to the former
    // slice/sort/intersect array algebra, which re-walked the arrays ~6
    // times per pair and dominated wide-catalog runs (W² pairs;
    // round-11 verdict item #8 — probe numbers in SCALING.md).
    val cont = call_function("kmv_containment",
      col("a.sketch"), col("b.sketch"), lit(k))
    val inA = cont.getField("in_a")
    val inBoth = cont.getField("in_both")
    val est = when(inA > 0, inBoth.cast("double") / inA.cast("double")).otherwise(0.0)

    // filter on the unrounded estimate, as the exact path filters on the
    // unrounded containment: a threshold between a value and its 4-dp
    // rounding (2/3 vs 0.6667) must drop the pair on both paths
    pairs
      .where(est >= minContainment)
      .select(col("a.tbl").as("table_a"), col("a.col").as("col_a"),
        col("b.tbl").as("table_b"), col("b.col").as("col_b"),
        inBoth.cast("bigint").as("n_common"),
        round(est, 4).as("containment"),
        when(est >= 0.95 && baseName(col("a.col")) === baseName(col("b.col")),
          "fk_candidate")
          .when(est >= 0.95, "contained")
          .otherwise("overlap").as("verdict"))
      .orderBy("table_a", "col_a", "table_b", "col_b")
  }
}
