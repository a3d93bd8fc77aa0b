package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-pipeline primitives for large-scale training-data curation:
  * tokenization, shingling, MinHash signatures, SimHash, portable
  * fingerprints. Everything is built from codegen'd built-in expressions
  * (no UDFs) so the hot path stays inside whole-stage codegen.
  *
  * Scale design notes (100 TB stance):
  *  - near-dup candidate generation is an inverted-index equi-join on
  *    shingle (or band/bucket) keys — shuffle keyed by shingle, never an
  *    all-pairs cross join on the document side;
  *  - MinHash banding bounds candidate pairs; band count / rows-per-band
  *    trade recall vs join fan-out;
  *  - hashes are xxhash64 (Spark built-in, seeded deterministic).
  */
object TextOps {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct (id, shingle) rows — the canonical shingle producer for
    * the dedup pipeline. One shuffle (the final distinct), everything
    * in whole-stage codegen: the token array is materialized once per
    * document (CollapseProject keeps a non-cheap alias that is
    * referenced w+ times in its own projection), positions come from a
    * codegen'd posexplode over `sequence`, and each shingle is w
    * element_at lookups + concat_ws — no window (the previous `lead`
    * formulation paid a shuffle+sort by id before the distinct) and no
    * higher-order-function lambdas (HOFs are CodegenFallback and would
    * drop the hot path out of codegen). */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, w: Int = 3): DataFrame =
    shingleExpanded(df, idCol, textCol, w)(_.as("shingle"))
      .distinct()

  /** Distinct 64-bit shingle HASHES per document: [[shingleRows]] with
    * xxhash64 applied BEFORE the distinct, so the dedup exchange carries
    * (id, 8-byte hash) instead of (id, shingle string) — round-18
    * optimization for the near-dup pair core, measured 0.87 → 0.58 s at
    * sf0.1. Equivalence: identical to hashing after the distinct unless
    * two DISTINCT shingles of the SAME document collide in xxhash64 —
    * the same ~10⁻⁹-per-corpus collision class the hash-keyed join
    * downstream already accepts (and the string-keyed oracle agrees
    * with unless one actually occurs). Consumers that need shingle
    * STRINGS (seeded MinHash signatures, decontamination reporting)
    * keep [[shingleRows]]. */
  def shingleHashRows(df: DataFrame, idCol: String, textCol: String,
      w: Int = 3): DataFrame =
    shingleExpanded(df, idCol, textCol, w)(xxhash64(_).as("s"))
      .distinct()

  /** The shared (id, shingle) expansion behind [[shingleRows]] and
    * [[shingleHashRows]] — ONE definition of tokenization and shingle
    * construction so the string and hash paths cannot silently diverge
    * (their documented equivalence is "hash applied on top of the same
    * shingle"). `out(shingle)` shapes the emitted column; the
    * caller owns the trailing distinct. */
  private def shingleExpanded(df: DataFrame, idCol: String, textCol: String,
      w: Int)(out: Column => Column): DataFrame = {
    val ws = col("__ws")
    df.select(col(idCol), tokens(col(textCol)).as("__ws"))
      .filter(size(ws) >= w)
      .select(col(idCol), ws, posexplode(sequence(lit(1), size(ws) - (w - 1))))
      .select(col(idCol),
        out(concat_ws(" ",
          (0 until w).map(k => element_at(ws, col("col") + k)): _*)))
  }

  /** Distinct w-word shingles (w consecutive tokens joined by space).
    * Documents shorter than w tokens yield an empty array. */
  def shingles(text: Column, w: Int = 3): Column = {
    val ws = tokens(text)
    when(size(ws) >= w,
      array_distinct(transform(
        sequence(lit(1), size(ws) - (w - 1)),
        i => concat_ws(" ", (0 until w).map(k => element_at(ws, i + k)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  /** MinHash signature: for each of `k` hash functions, the min over the
    * shingle set of xxhash64(seed_i || shingle). Input: exploded
    * (id, shingle) rows; output: (id, minhash_0..minhash_{k-1}). */
  def minhashSignature(exploded: DataFrame, idCol: String, shingleCol: String,
      k: Int = 16): DataFrame =
    exploded.groupBy(idCol).agg(
      min(xxhash64(lit(0), col(shingleCol))).as("mh0"),
      (1 until k).map(i => min(xxhash64(lit(i), col(shingleCol))).as(s"mh$i")): _*)

  /** LSH bands over a minhash signature: hash `rowsPerBand` consecutive
    * minhashes per band. Returns (id, band_idx, band_hash) rows — join
    * key for candidate generation. */
  def lshBands(sig: DataFrame, idCol: String, k: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    // integer division would silently IGNORE the trailing signature
    // rows (k=16, rowsPerBand=5 → 3 bands, mh15 never hashed — recall
    // quietly differs from the configured signature), and
    // rowsPerBand > k would emit ZERO bands (no candidates at all, the
    // dedup pipeline reports no near-dups with no error)
    require(rowsPerBand >= 1 && k % rowsPerBand == 0,
      s"lshBands: rowsPerBand must divide k (got k=$k, rowsPerBand=$rowsPerBand)")
    val nBands = k / rowsPerBand
    val bands = (0 until nBands).map { b =>
      struct(lit(b).as("band_idx"),
        xxhash64((0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)
          .as("band_hash"))
    }
    sig.select(col(idCol), explode(array(bands: _*)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.band_hash"))
  }

  /** SimHash over a token set, `bits` wide: per bit, majority vote of the
    * corresponding xxhash64 bit across tokens. Input: exploded
    * (id, token); output: (id, simhash). */
  def simhash(exploded: DataFrame, idCol: String, tokenCol: String,
      bits: Int = 16): DataFrame = {
    val h = xxhash64(col(tokenCol))
    val votes = (0 until bits).map { b =>
      sum(when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b")
    }
    exploded.groupBy(idCol).agg(votes.head, votes.tail: _*)
      .select(
        col(idCol),
        (0 until bits)
          .map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** Portable positional fingerprint (rolling-hash spirit but expressible
    * identically in any SQL engine — used by the oracle-checked
    * fingerprint query): sum over positions of pos * h(word) where
    * h(word) = 31*len + 7*ascii(first) + ascii(last). For an
    * engine-native 64-bit fingerprint use [[xxFingerprint]]. */
  def portableWordHash(w: Column): Column =
    length(w) * 31 + ascii(substring(w, 1, 1)) * 7 + ascii(substring(w, -1, 1))

  /** Engine-native whole-document fingerprint. */
  def xxFingerprint(text: Column): Column = xxhash64(text)

  /** Language-marker score: how many tokens of `text` appear in the
    * marker vocabulary. */
  def markerHits(words: Column, markers: Seq[String]): Column =
    size(filter(words, w => w.isInCollection(markers)))

  /** Sliding character n-grams of an ALREADY-NORMALIZED column; empty
    * array when the text is shorter than n. All built-ins (sequence +
    * substr), stays in codegen.
    *
    * Pass a plain column reference, not an expression: higher-order
    * lambdas re-evaluate inner subexpressions PER ELEMENT, so e.g.
    * `charNgrams(lower(text))` lowercases the whole string once per
    * position — O(len²) per document (measured 8× end-to-end on the
    * lang-ID query). Project the normalization into a column first. */
  def charNgrams(text: Column, n: Int = 3): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - (n - 1)), i => text.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))
}

/** Character-n-gram-profile language identification (Cavnar–Trenkle
  * style, simplified to profile-overlap scoring): TRAIN per-language
  * top-K trigram profiles from a labeled corpus — one groupBy + ranked
  * window, fully distributed — then CLASSIFY by counting how many of a
  * document's distinct trigrams appear in each language's profile.
  * Profiles are dimension-sized (|langs|·K rows) and broadcast, so
  * classification is a map-side join at any corpus size.
  */
object LangId {

  import org.apache.spark.sql.functions.{broadcast => bcast}

  /** (lang, g, rnk) — the top-`k` trigrams per language by frequency. */
  def trainProfiles(docs: DataFrame, langCol: String, textCol: String,
      k: Int = 100): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("g"))
    docs.select(col(langCol).as("lang"), lower(col(textCol)).as("__t"))
      .select(col("lang"), explode(TextOps.charNgrams(col("__t"))).as("g"))
      .groupBy("lang", "g").agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("lang", "g", "rnk")
  }

  /** Driver-local model: lang → its profile trigram set. The profile is
    * dimension-sized (|langs|·k strings), so collecting it is O(model),
    * not O(corpus) — the train-once / serve-broadcast pattern. */
  def trainProfilesLocal(docs: DataFrame, langCol: String, textCol: String,
      k: Int = 100): Map[String, Seq[String]] =
    trainProfiles(docs, langCol, textCol, k)
      .collect()
      .groupBy(_.getAs[String]("lang"))
      .map { case (lang, rows) => lang -> rows.map(_.getAs[String]("g")).toSeq }

  /** Zero-shuffle classification against a local model: score per lang =
    * |distinct doc trigrams ∩ profile set| evaluated as a codegen'd
    * array filter over literal InSets — classification is one map pass
    * at any corpus size (vs. the explode + join + two-shuffle
    * formulation in [[classify]], kept as the oracle-shaped twin).
    * Same output contract: argmax with lexicographic tie-break, docs
    * with zero overlap → 'und'. */
  def classifyLocal(docs: DataFrame, idCol: String, textCol: String,
      profiles: Map[String, Seq[String]]): DataFrame = {
    val langs = profiles.keys.toSeq.sorted
    // struct comparison is field-order lexicographic: score first, then
    // NEGATED lang index — array_max therefore picks highest score and,
    // on ties, the lexicographically SMALLEST language name
    val entries = langs.zipWithIndex.map { case (lang, i) =>
      val set = profiles(lang)
      struct(
        size(filter(col("__g"), g => g.isInCollection(set))).as("score"),
        lit(-i).as("neg"))
    }
    val best = array_max(array(entries: _*))
    docs
      .select(col(idCol), lower(col(textCol)).as("__t"))
      .withColumn("__g", array_distinct(TextOps.charNgrams(col("__t"))))
      .withColumn("__best", best)
      .select(
        col(idCol),
        when(col("__best.score") === 0, lit("und"))
          .otherwise(element_at(
            array(langs.map(lit): _*), -col("__best.neg") + 1)).as("predicted"),
        col("__best.score").cast("long").as("score"))
  }

  /** (id, predicted, score): argmax profile overlap, deterministic
    * lexicographic tie-break; docs with no scoreable trigrams → 'und'. */
  def classify(docs: DataFrame, idCol: String, textCol: String,
      profiles: DataFrame): DataFrame = {
    val grams = docs
      .select(col(idCol).as("__id"), lower(col(textCol)).as("__t"))
      .select(col("__id"), explode(array_distinct(TextOps.charNgrams(col("__t")))).as("g"))
    val w = Window.partitionBy("__id").orderBy(col("score").desc, col("lang"))
    val best = grams.join(bcast(profiles), Seq("g"))
      .groupBy("__id", "lang").agg(count(lit(1)).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    docs.select(col(idCol).as("__id")).distinct()
      .join(best, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("lang"), lit("und")).as("predicted"),
        coalesce(col("score"), lit(0L)).as("score"))
  }
}
