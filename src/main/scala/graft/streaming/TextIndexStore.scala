package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Day-2 maintenance for the BM25 full-text surface (round 15): the
  * inverted index as MAINTAINED artifacts instead of a per-query corpus
  * scan. `q_text_search` re-tokenizes every document per query — right
  * for exploratory queries at bench scale, but at 100 TB the corpus
  * dwarfs the index rows a query touches by orders of magnitude, and a
  * search layer that re-reads and re-splits every document per query is
  * mis-designed. Here two stores hold exactly what BM25 needs:
  *
  *  - POSTINGS: (word, doc_id, ver, tf) — term frequency per (term,
  *    document), the inverted index. A query reads only its own terms'
  *    rows (`word IN (...)` pushed into the bucketed parquet scan).
  *  - DOC LENGTHS: (doc_id, ver, dl) — token count per document, the
  *    node-sized side that yields N and avgdl.
  *  - POSITIONS (opt-in): (word, doc_id, pos, ver, cnt) — one signed
  *    row per token OCCURRENCE, the positional index [[searchPhrase]]
  *    serves adjacency from. Corpus-token-sized (~3-5× the tf
  *    postings), which is why it is a separate opt-in artifact rather
  *    than positions bolted onto every posting.
  *
  * Same log-structured (key, ver) exactly-once design as
  * [[GraphEdgeStore]] (signed cells under the CDC version in the key;
  * at-least-once redelivery re-merges identical rows — a no-op), same
  * [[SignedCells]] netting, drain and fold. One IMPORTANT contrast,
  * documented because the r14 basket bug makes it worth stating: a
  * document is ONE CDC row, so this consumer derives nothing from row
  * co-occurrence — `update` rows are handled in place (−old text, +new
  * text), where the basket store must refuse them. Per-row additivity also means any
  * batching would be CONTENT-correct here; version granularity is kept
  * for the exactly-once watermark machinery, not for atomicity.
  *
  * Serving ([[search]]) replicates `TextSearch.bm25`'s expression tree
  * over the artifacts — same rounding, same tie-break — so the served
  * top-k is EXACTLY the live key's frame (`q_gate_store_text_search`
  * pins it). Scale shape per query: |terms| postings lists + one
  * doc-sized length read; the corpus text is touched only by arriving
  * batches.
  */
object TextIndexStore {

  private val PostingsCells = SignedCells(Seq("word", "doc_id"), Seq("tf"))
  private val DoclenCells = SignedCells(Seq("doc_id"), Seq("dl"))
  private val PositionCells =
    SignedCells(Seq("word", "doc_id", "pos"), Seq("cnt"))

  /** (doc_id, word, tf, dl) of a (id, text) frame — the same
    * whitespace tokenizer the live BM25 uses; null text contributes
    * nothing ("no text" = "not in the corpus", matching bm25's filter). */
  private def tokenTf(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val ws = graft.functions.TextOps.tokens(col(textCol))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), size(ws).cast("long").as("dl"),
        explode(ws).as("word"))
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"), first("dl").as("dl"))
  }

  /** (doc_id, word, pos) per token OCCURRENCE of a (id, text) frame —
    * the positional index rows behind phrase serving. Each (doc, word,
    * pos) triple is unique by construction, so a signed per-occurrence
    * count is additive exactly like tf: an in-place update's −old
    * cancels the occurrences the new text keeps in place (net 0 rows
    * written for the unchanged prefix). */
  private def tokenPos(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextOps.tokens(col(textCol)))
          .as(Seq("pos", "word")))
      .select(col("doc_id"), col("word"), col("pos"))

  /** Full build (or periodic log-fold rebuild) of the artifacts.
    * `positionsDir` opts into the POSITIONAL index phrase serving needs
    * — one row per token occurrence, i.e. corpus-token-sized where the
    * tf postings are (doc, distinct-term)-sized (the honest ~3-5×
    * size cost of serving adjacency; skip it and phrase queries stay on
    * the live `TextSearch.phrase` path). */
  def build(spark: SparkSession, postingsDir: String, doclenDir: String,
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      numBuckets: Int = 16, positionsDir: Option[String] = None): Unit = {
    val tt = tokenTf(docs, idCol, textCol).localCheckpoint(true)
    try {
      PostingsCells.build(spark, postingsDir,
        tt.select("word", "doc_id", "tf"), numBuckets)
      DoclenCells.build(spark, doclenDir,
        tt.groupBy("doc_id").agg(first("dl").as("dl")), numBuckets)
      positionsDir.foreach(pd => PositionCells.build(spark, pd,
        tokenPos(docs, idCol, textCol).withColumn("cnt", lit(1L)),
        numBuckets))
    } finally graft.queries.GateMemo.unpersistCheckpoint(tt)
  }

  /** One CDC batch of document changes as signed deltas under version
    * `batchId`: inserted docs contribute +tf/+dl from their new text,
    * deleted docs −tf/−dl from their old text, and UPDATES both (−old
    * +new — safe here because a document is one row; see the object
    * doc). Idempotent per batchId on both stores. */
  def ingestBatch(spark: SparkSession, postingsDir: String,
      doclenDir: String, changes: DataFrame, batchId: Long,
      idCol: String = "doc_id", numBuckets: Int = 16,
      positionsDir: Option[String] = None): Unit = {
    def side(textCol: String, types: Seq[String], sign: Int) =
      tokenTf(changes.filter(col("change_type").isin(types: _*)),
          idCol, textCol)
        .select(col("doc_id"), col("word"),
          (col("tf") * sign).as("tf"), (col("dl") * sign).as("dl"))
    val delta = side("new_text", Seq("insert", "update"), 1)
      .unionByName(side("old_text", Seq("delete", "update"), -1))
      .localCheckpoint(true)
    try {
      PostingsCells.ingest(spark, postingsDir, delta, batchId, numBuckets)
      // per-doc length delta: dl rides every (doc, word) row of a side,
      // so collapse to one signed value per (doc, side) first — distinct
      // on (doc_id, dl) does it exactly (the two sides of an update
      // carry opposite signs, so a length-preserving update nets 0)
      DoclenCells.ingest(spark, doclenDir,
        delta.select("doc_id", "dl").distinct(), batchId, numBuckets)
    } finally graft.queries.GateMemo.unpersistCheckpoint(delta)
    // positional deltas: per-OCCURRENCE signed counts, same −old/+new
    // additivity as tf (each (doc, word, pos) key is unique per side,
    // and an update's kept-in-place occurrences net to zero — nothing
    // is written for them)
    positionsDir.foreach { pd =>
      def posSide(textCol: String, types: Seq[String], sign: Int) =
        tokenPos(changes.filter(col("change_type").isin(types: _*)),
            idCol, textCol)
          .withColumn("cnt", lit(sign.toLong))
      PositionCells.ingest(spark, pd,
        posSide("new_text", Seq("insert", "update"), 1)
          .unionByName(posSide("old_text", Seq("delete", "update"), -1)),
        batchId, numBuckets)
    }
  }

  /** Drain the CDC feed into every artifact at version granularity
    * ([[SignedCells.drain]]: watermark skip, per-version idempotent
    * replay, fold-marker floor, legacy-checkpoint refusal, and the
    * depth-triggered self-fold). */
  def maintainFromCdc(spark: SparkSession, cdcDir: String,
      postingsDir: String, doclenDir: String, checkpointDir: String,
      idCol: String = "doc_id", numBuckets: Int = 16,
      autoFoldDepth: Option[Int] = None,
      positionsDir: Option[String] = None): Unit =
    SignedCells.drain(spark, cdcDir, checkpointDir,
        Seq(PostingsCells -> postingsDir, DoclenCells -> doclenDir) ++
          positionsDir.map(PositionCells -> _),
        autoFoldDepth) { (batch, v) =>
      ingestBatch(spark, postingsDir, doclenDir, batch, v, idCol,
        numBuckets, positionsDir)
    }

  /** Fold the postings log into a fresh base ([[SignedCells.fold]]). Fold
    * every store of a set in the same maintenance window: they share one
    * drain checkpoint, and the floor is the max over their markers. */
  def foldPostings(spark: SparkSession, postingsDir: String): Unit =
    PostingsCells.fold(spark, postingsDir)

  /** Fold the doc-length log (see [[foldPostings]]'s pairing note). */
  def foldDocLens(spark: SparkSession, doclenDir: String): Unit =
    DoclenCells.fold(spark, doclenDir)

  /** Fold the positional log (see [[foldPostings]]'s pairing note). */
  def foldPositions(spark: SparkSession, positionsDir: String): Unit =
    PositionCells.fold(spark, positionsDir)

  /** Live postings: per-(word, doc) version-log sum, vanished terms
    * dropped. */
  def postings(spark: SparkSession, postingsDir: String): DataFrame =
    PostingsCells.live(spark, postingsDir)

  /** Live doc lengths: per-doc version-log sum; deleted docs drop. */
  def docLens(spark: SparkSession, doclenDir: String): DataFrame =
    DoclenCells.live(spark, doclenDir)

  /** Live token occurrences (word, doc_id, pos): per-key version-log
    * sum of the signed occurrence counts; vanished occurrences drop.
    * `termFilter` prunes the scan BEFORE the log sum (phrase serving
    * reads only its own terms' rows). */
  def positions(spark: SparkSession, positionsDir: String,
      termFilter: Option[Seq[String]] = None): DataFrame = {
    val raw = SignedCells.readLog(spark, positionsDir)
    PositionCells.live(
        termFilter.fold(raw)(t => raw.filter(col("word").isInCollection(t))))
      .select("word", "doc_id", "pos")
  }

  /** BM25 top-k served from the maintained artifacts — the EXACT frame
    * `TextSearch.bm25` computes live (same expression tree, same
    * round(.,4), same id tie-break), with the corpus never re-tokenized:
    * the postings read is term-pruned (`word IN` pushed to the scan),
    * stats come from the doc-sized length store. */
  def search(spark: SparkSession, postingsDir: String, doclenDir: String,
      terms: Seq[String], topK: Int = 20,
      requireAll: Boolean = false): DataFrame = {
    require(terms.nonEmpty, "search: empty term set")
    import graft.operators.TextSearch.{B, K1}
    val lens = docLens(spark, doclenDir).localCheckpoint(true)
    val stats = lens.agg(count(lit(1)).cast("double").as("__n"),
      avg(col("dl").cast("double")).as("__avgdl"))
    val tf = postings(spark, postingsDir)
      .filter(col("word").isInCollection(terms))
      .join(lens, "doc_id")
      .select(col("doc_id").as("__id"), col("word"),
        col("tf").cast("double").as("tf"), col("dl").cast("double").as("dl"))
      .localCheckpoint(true)
    val out = try {
      val dfreq = tf.groupBy("word").agg(count(lit(1)).cast("double").as("df"))
      val idf = log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5))
      val contrib = idf * (col("tf") * (lit(K1) + 1)) /
        (col("tf") + lit(K1) * (lit(1.0) - B + lit(B) * col("dl") / col("__avgdl")))
      val scoredAll = tf
        .join(broadcast(dfreq), "word")
        .crossJoin(broadcast(stats))
        .groupBy("__id")
        .agg(round(sum(contrib), 4).as("score"),
          count(lit(1)).as("__nterms"))
      val scored = (if (requireAll)
        scoredAll.filter(col("__nterms") === terms.distinct.size)
      else scoredAll).drop("__nterms")
      scored
        .orderBy(col("score").desc, col("__id").asc).limit(topK)
        .withColumn("rnk", graft.functions.BoundedRank.rowNumberBounded(
          col("__id"), col("score").desc, col("__id").asc).cast("bigint"))
        .withColumnRenamed("__id", "doc_id")
        .orderBy("rnk")
        .localCheckpoint(true)
    } finally {
      graft.queries.GateMemo.unpersistCheckpoint(tf)
      graft.queries.GateMemo.unpersistCheckpoint(lens)
    }
    out
  }

  /** Phrase (adjacency) search served from the POSITIONAL index — the
    * EXACT frame `TextSearch.phrase` computes live (same anchor fan-out
    * shape, same Lucene PhraseQuery BM25, same round(.,4)/tie-break),
    * with the corpus never re-tokenized: the positions read is
    * term-pruned, stats come from the doc-length store. This is what
    * the positional artifact buys for its ~3-5× size over tf postings
    * (see [[build]]); pairs that skipped `positionsDir` keep phrase
    * queries on the live path.
    *
    * Plan: each stored occurrence of a phrase term fans out to its
    * candidate anchor via the phrase-sized broadcast offsets table, one
    * (doc, anchor) aggregate finds groups holding all L offsets, and
    * df/stats are broadcast scalars — identical to the live key except
    * the leaf is index rows instead of posexplode(corpus). */
  def searchPhrase(spark: SparkSession, positionsDir: String,
      doclenDir: String, terms: Seq[String], topK: Int = 20): DataFrame = {
    require(terms.size >= 2, "searchPhrase: need >= 2 terms (use search for one)")
    searchPhraseAt(spark, positionsDir, doclenDir, terms.zipWithIndex, topK)
  }

  /** Positional phrase with EXPLICIT offsets served from the store —
    * the `TextSearch.phraseAt` twin (Postgres's `a <N> b` distance
    * operator): same anchor fan-out over index rows, same BM25, same
    * determinism contract. [[searchPhrase]] is the consecutive-offsets
    * special case. */
  def searchPhraseAt(spark: SparkSession, positionsDir: String,
      doclenDir: String, termOffsets: Seq[(String, Int)],
      topK: Int = 20): DataFrame = {
    require(termOffsets.size >= 2,
      "searchPhraseAt: need >= 2 (term, offset) pairs")
    require(termOffsets.map(_._2).distinct.size == termOffsets.size,
      "searchPhraseAt: offsets must be distinct (one term per position)")
    import graft.operators.TextSearch.{B, K1}
    val terms = termOffsets.map(_._1)
    val L = termOffsets.size
    val lens = docLens(spark, doclenDir).localCheckpoint(true)
    val out = try {
      val stats = lens.agg(count(lit(1)).cast("double").as("__n"),
        avg(col("dl").cast("double")).as("__avgdl"))
      // phrase-sized (word -> offset) table; a repeated word fans its
      // occurrences to every offset it occupies, same as the live key
      val offsets = spark.createDataFrame(termOffsets)
        .toDF("word", "off")
      val cand = positions(spark, positionsDir, Some(terms))
        .join(broadcast(offsets), "word")
        .select(col("doc_id").as("__id"),
          (col("pos") - col("off")).as("anchor"), col("off"))
        .filter(col("anchor") >= 0)
      val ptf = cand.groupBy("__id", "anchor")
        .agg(countDistinct("off").as("__c"))
        .filter(col("__c") === L)
        .groupBy("__id")
        .agg(count(lit(1)).cast("double").as("tf"))
        .join(lens.select(col("doc_id").as("__id"),
          col("dl").cast("double").as("dl")), "__id")
        .localCheckpoint(true)
      try {
        val dfreq = ptf.agg(count(lit(1)).cast("double").as("df")) // scalar
        val idf = log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5))
        val contrib = idf * (col("tf") * (lit(K1) + 1)) /
          (col("tf") + lit(K1) * (lit(1.0) - B + lit(B) * col("dl") / col("__avgdl")))
        ptf.crossJoin(broadcast(dfreq))
          .crossJoin(broadcast(stats))
          .select(col("__id"), round(contrib, 4).as("score"))
          .orderBy(col("score").desc, col("__id").asc).limit(topK)
          .withColumn("rnk", graft.functions.BoundedRank.rowNumberBounded(
            col("__id"), col("score").desc, col("__id").asc).cast("bigint"))
          .withColumnRenamed("__id", "doc_id")
          .orderBy("rnk")
          .localCheckpoint(true)
      } finally graft.queries.GateMemo.unpersistCheckpoint(ptf)
    } finally graft.queries.GateMemo.unpersistCheckpoint(lens)
    out
  }

  /** Batched BM25 served from the maintained artifacts — the
    * `TextSearch.bm25Batch` twin: one job scoring a whole query batch,
    * with the corpus-side work replaced by ONE term-pruned postings
    * read over the union of all queries' terms. Each query then picks
    * up its rows by a broadcast term join, exactly the live key's
    * shape minus the tokenize/explode pipeline. The term union is
    * collected driver-side (batch-bounded — a query batch's vocabulary
    * is tiny) so the `IN`-set prunes the bucketed parquet scan the
    * same way [[search]]'s terms do.
    * @return (queryIdCol, doc_id, score, rnk) — rnk 1..topK per query,
    *   row-equal to `bm25Batch` on the same corpus (spec-pinned) */
  def searchBatch(spark: SparkSession, postingsDir: String,
      doclenDir: String, queries: DataFrame, queryIdCol: String,
      termCol: String, topK: Int = 20): DataFrame = {
    import graft.operators.TextSearch.{B, K1}
    import org.apache.spark.sql.expressions.Window
    val batch = queries
      .select(col(queryIdCol).as("__qid"), col(termCol).as("word")).distinct()
      .localCheckpoint(true)
    val lens = docLens(spark, doclenDir).localCheckpoint(true)
    val out = try {
      val termSet = batch.select("word").distinct()
        .collect().map(_.getString(0)).toSeq
      // empty query batch: the live twin (TextSearch.bm25Batch) returns
      // an empty frame — agree rather than throw (round-16 advice). The
      // frame is built from the schema directly, not from limit(0)
      // projections of the checkpoints the finally blocks free.
      if (termSet.isEmpty)
        return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              queryIdCol, batch.schema("__qid").dataType),
            org.apache.spark.sql.types.StructField(
              "doc_id", lens.schema("doc_id").dataType),
            org.apache.spark.sql.types.StructField(
              "score", org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField(
              "rnk", org.apache.spark.sql.types.LongType))))
      val stats = lens.agg(count(lit(1)).cast("double").as("__n"),
        avg(col("dl").cast("double")).as("__avgdl"))
      val tf = postings(spark, postingsDir)
        .filter(col("word").isInCollection(termSet))
        .join(lens, "doc_id")
        .select(col("doc_id").as("__id"), col("word"),
          col("tf").cast("double").as("tf"), col("dl").cast("double").as("dl"))
        .localCheckpoint(true)
      try {
        val dfreq = tf.groupBy("word")
          .agg(count(lit(1)).cast("double").as("df"))
        val idf = log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5))
        val contrib = idf * (col("tf") * (lit(K1) + 1)) /
          (col("tf") + lit(K1) * (lit(1.0) - B + lit(B) * col("dl") / col("__avgdl")))
        val perQuery = Window.partitionBy("__qid")
          .orderBy(col("score").desc, col("__id").asc)
        tf.join(broadcast(dfreq), "word")
          .crossJoin(broadcast(stats))
          .join(broadcast(batch), "word")
          .groupBy("__qid", "__id")
          .agg(round(sum(contrib), 4).as("score"))
          .withColumn("rnk", row_number().over(perQuery).cast("bigint"))
          .filter(col("rnk") <= topK)
          .withColumnRenamed("__qid", queryIdCol)
          .withColumnRenamed("__id", "doc_id")
          .orderBy(queryIdCol, "rnk")
          .localCheckpoint(true)
      } finally graft.queries.GateMemo.unpersistCheckpoint(tf)
    } finally {
      graft.queries.GateMemo.unpersistCheckpoint(lens)
      graft.queries.GateMemo.unpersistCheckpoint(batch)
    }
    out
  }
}
