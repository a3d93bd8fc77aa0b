package graft

import graft.catalog.{Ddl, Profile}
import graft.ingest.Ingest
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Property-based invariants (SURVEY.md §5.3). Spark-touching properties
  * keep generated data tiny and the case count low — each case is a job. */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkTestSession.spark

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(8).mkString)

  property("tableName always sanitizes to [a-zA-Z0-9_]+") =
    forAll(Gen.asciiPrintableStr) { s =>
      val t = Ingest.tableName(s + ".csv")
      t.nonEmpty && t.matches("[a-zA-Z0-9_]+")
    }

  property("semanticType always lands in the reference vocabulary") = {
    val vocab = Set("Email Address", "Unique Identifier", "Category",
      "Person Name", "URL", "Date/Time", "Monetary Value", "Count",
      "Numeric Value", "General Text")
    forAll(word, Gen.oneOf("TEXT", "INTEGER", "REAL", "BOOLEAN"),
      Gen.chooseNum(0L, 100L), Gen.chooseNum(0L, 100L)) { (name, t, d, n) =>
      vocab.contains(Profile.semanticType(name, t, math.min(d, n), n))
    }
  }

  property("ddl synthesis quotes the table and lists every column") =
    forAll(Gen.nonEmptyListOf(word).map(_.distinct.take(5))) { cols =>
      cols.nonEmpty ==> {
        val profile = cols.map(c => catalog.ColumnProfile(
          c, "string", "TEXT", "General Text", "", Nil, 1, 0, 1))
        val ddl = Ddl.fromProfile("t", profile)
        ddl.startsWith("CREATE TABLE \"t\" (") && ddl.endsWith(");") &&
          cols.forall(c => ddl.contains(s""""$c" TEXT"""))
      }
    }

  property("profiler invariants: nulls <= rows, distinct <= non-null, type in menu") =
    forAll(Gen.listOfN(12, Gen.option(Gen.oneOf(
      Gen.chooseNum(-999, 999).map(_.toString), word)))) { vals =>
      import spark.implicits._
      val df = vals.map(v => Tuple1(v.orNull)).toDF("c")
      val menu = Set("TEXT", "INTEGER", "REAL", "DATE", "TIMESTAMP", "BOOLEAN", "BLOB")
      val p = Profile.of(df).head
      p.nullCount <= p.rowCount &&
        p.distinctCount <= (p.rowCount - p.nullCount) &&
        menu.contains(p.inferredSqlType)
    }

  property("exact dedup is idempotent") =
    forAll(Gen.listOfN(20, Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0, 3)))) { xs =>
      import spark.implicits._
      val df = xs.toDF("a", "b")
      val once = df.dropDuplicates("a", "b")
      once.count() == once.dropDuplicates("a", "b").count() &&
        once.count() == xs.distinct.size
    }

  property("shingleRows emits exactly the distinct scala-side trigrams") =
    forAll(Gen.listOfN(12, word)) { words =>
      import spark.implicits._
      val text = words.mkString(" ")
      val expected = words.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val got = graft.functions.TextOps.shingleRows(df, "doc_id", "text", 3)
        .collect().map(_.getString(1)).toSet
      got == expected
    }

  property("AsOf.join matches a brute-force model on random event streams") =
    forAll(
      Gen.listOfN(14, Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(0L, 30L))),
      Gen.listOfN(10, Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(0L, 30L)))) { (ls, rs) =>
      (ls.nonEmpty && rs.nonEmpty) ==> {
        import spark.implicits._
        import org.apache.spark.sql.functions.col
        // duplicate (key, ts) pairs stay in on BOTH sides — rightId makes
        // the equal-ts tie-break deterministic (largest rid wins)
        val ld = ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        val rd = rs.zipWithIndex.map { case ((k, t), i) => (k, t, 1000L + i) }
        val left = ld.toDF("k", "ts", "lid")
        val right = rd.toDF("k", "ts", "rid")
        val got = graft.operators.AsOf.join(left, right, Seq("k"),
            "ts", "ts", Seq("rid"), rightId = Some("rid"))
          .select("lid", "rid", "ts").collect()
          .map(r => r.getLong(0) ->
            ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getLong(2))).toMap
        val model = ld.map { case (k, t, lid) =>
          val prior = rd.filter(r => r._1 == k && r._2 < t)
          // the left ts column must survive the name collision untouched
          lid -> ((if (prior.isEmpty) -1L else prior.maxBy(r => (r._2, r._3))._3), t)
        }.toMap
        got == model
      }
    }

  property("ConnectedComponents matches a brute-force union-find model") =
    forAll(Gen.listOfN(10, Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L)))) { es =>
      es.nonEmpty ==> {
        import spark.implicits._
        val got = graft.operators.ConnectedComponents
          .run(es.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // model: classic union-find over the same edges
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = es.flatMap(t => Seq(t._1, t._2)).distinct
        val roots = nodes.map(n => n -> find(n)).toMap
        val minOfComp = nodes.groupBy(roots).map { case (r, ns) => r -> ns.min }
        val model = nodes.map(n => n -> minOfComp(roots(n))).toMap
        got == model
      }
    }

  property("star contraction == min-label propagation on random graphs") =
    // chooseNum(0,15) pairs produce self-loops (~1/16 of edges), multi-
    // edges, and disconnected components; both algorithms must agree on
    // the full (node → component-min) map, including self-loop-only nodes
    forAll(Gen.listOfN(10, Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L)))) { es =>
      es.nonEmpty ==> {
        import spark.implicits._
        val df = es.toDF("a", "b")
        val viaRun = graft.operators.ConnectedComponents
          .run(df, "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val viaStar = graft.operators.ConnectedComponents
          .runStarContraction(df, "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        viaStar == viaRun
      }
    }

  property("Upsert.merge == overlay model (updates win, rest untouched)") =
    forAll(
      Gen.listOfN(12, Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(0, 99))),
      Gen.listOfN(6, Gen.zip(Gen.chooseNum(0L, 12L), Gen.chooseNum(100, 199)))) { (t, u) =>
      import spark.implicits._
      val updates = u.toMap.toSeq // distinct keys, updates win
      val got = graft.operators.Upsert
        .merge(t.toDF("k", "v"), updates.toDF("k", "v"), Seq("k"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
      val updKeys = updates.map(_._1).toSet
      val model = (t.filterNot(r => updKeys.contains(r._1)) ++ updates).sorted
      got == model
    }

  property("window running-sum final value equals the group sum") =
    forAll(Gen.listOfN(15, Gen.zip(Gen.chooseNum(0, 2), Gen.chooseNum(1, 50)))) { xs =>
      xs.nonEmpty ==> {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions._
        import spark.implicits._
        val df = xs.zipWithIndex.map { case ((k, v), i) => (k, v.toLong, i) }
          .toDF("k", "v", "ord")
        val w = Window.partitionBy("k").orderBy("ord")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val lastRunning = df.withColumn("rs", sum("v").over(w))
          .groupBy("k").agg(max("rs").as("final_rs"))
        val groupSum = df.groupBy("k").agg(sum("v").as("gs"))
        lastRunning.join(groupSum, "k")
          .filter(col("final_rs") =!= col("gs")).count() == 0
      }
    }

  property("blockPairJoin covers every unordered pair exactly once at any blocking") = {
    import org.apache.spark.sql.functions._
    // tiny n per case (each case runs a Spark job); ids offset and block
    // counts varied so same-block, cross-block, and empty-block
    // arrangements all occur
    forAll(Gen.chooseNum(2, 14), Gen.chooseNum(2, 7),
      Gen.chooseNum(0L, 1000L)) { (n, blocks, offset) =>
      val e = spark.range(offset, offset + n).toDF("vec_id")
        .withColumn("embedding", array(col("vec_id").cast("float")))
      val got = graft.queries.Extensions
        .blockPairJoin(e, "vec_id", "embedding", blocks)
        .select("ida", "idb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val expected = (for {
        a <- offset until (offset + n); b <- (a + 1) until (offset + n)
      } yield (a, b)).toSet
      got.size == expected.size && got.toSet == expected &&
        got.forall { case (a, b) => a < b }
    }
  }

  property("bucketed blockPairJoin meets pairs once per shared bucket, never across") = {
    import org.apache.spark.sql.functions._
    // each id is assigned 1 or 2 buckets by a deterministic rule
    // (id%3==0 rows straddle two buckets — the top-m multi-assignment
    // shape); a pair must appear exactly |shared buckets| times, and
    // never when the bucket sets are disjoint
    forAll(Gen.chooseNum(2, 10), Gen.chooseNum(2, 5),
      Gen.chooseNum(2, 4), Gen.chooseNum(0L, 500L)) { (n, blocks, nBuckets, offset) =>
      import spark.implicits._
      def buckets(id: Long): Seq[Int] = {
        val b = (id % nBuckets).toInt
        if (id % 3 == 0) Seq(b, (b + 1) % nBuckets).distinct else Seq(b)
      }
      val rows = (offset until (offset + n))
        .flatMap(id => buckets(id).map(b => (id, b)))
      val e = rows.toDF("vec_id", "cell")
        .withColumn("embedding", array(col("vec_id").cast("float")))
      val got = graft.queries.Extensions
        .blockPairJoin(e, "vec_id", "embedding", blocks, bucketCols = Seq("cell"))
        .select("ida", "idb").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val expected = (for {
        a <- offset until (offset + n); b <- (a + 1) until (offset + n)
        shared = buckets(a).toSet.intersect(buckets(b).toSet).size
        if shared > 0
        _ <- 0 until shared
      } yield (a, b)).toSeq
      got.sorted == expected.sorted
    }
  }

  property("phrase search matches exactly the sliding-window reference") = {
    // tiny vocab so phrases genuinely recur; doc = token list
    val tok = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.listOfN(10, tok)
    val docs = Gen.listOfN(6, doc)
    val phraseLen = Gen.chooseNum(2, 3)
    forAll(docs, phraseLen, Gen.listOfN(3, tok)) { (ds, len, ph0) =>
      val phrase = ph0.take(len)
      (phrase.size >= 2) ==> {
        import spark.implicits._
        val df = ds.zipWithIndex
          .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
          .toDF("doc_id", "text")
        val got = graft.operators.TextSearch
          .phrase(df, "doc_id", "text", phrase, topK = 100)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
        // reference: docs containing the contiguous phrase, ranked by
        // BM25 — we check the MATCH SET and that tf drives the count
        val refTf = ds.zipWithIndex.flatMap { case (ws, i) =>
          val n = ws.sliding(phrase.size).count(_ == phrase)
          if (n > 0) Some(i.toLong -> n) else None
        }.toMap
        got.keySet == refTf.keySet
      }
    }
  }

  // scalar exact-int64 model of PortableHash — the same arithmetic any
  // ANSI engine with BIGINT math (the DuckDB oracle included) computes
  // from the mirrored SQL chain; every intermediate provably < 2^63
  private def mix31Model(x: Long): Long = {
    val h1 = Math.floorMod(x * 2654435761L, 2147483648L)
    val m1 = h1 ^ (h1 >> 15)
    val h2 = Math.floorMod(m1 * 1597334677L, 2147483648L)
    h2 ^ (h2 >> 13)
  }
  private def portableHashModel(k: Long): Long = {
    val lo = Math.floorMod(k, 2147483648L)
    val mid = Math.floorMod(k >> 31, 2147483648L)
    val top = k >> 62
    mix31Model(mix31Model(mix31Model(lo) ^ mid) ^ top)
  }

  property("PortableHash == exact-int64 scalar model over the FULL id space") =
    forAll(Gen.oneOf(
      Gen.chooseNum(0L, 4000L),                  // small ids (testdata scale)
      Gen.chooseNum(0L, Long.MaxValue))) { id => // 100 TB-scale ids > 2^31
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val got = Seq(id).toDF("k")
        .select(graft.functions.PortableHash.column(col("k")).as("h"))
        .head.getLong(0)
      got == portableHashModel(id)
    }

  property("PortableHash selection is partitioning-invariant incl. ids > 2^31") =
    forAll(Gen.chooseNum(1, 8)) { parts =>
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, pmod, lit}
      val ids = (0 until 40).map(i => 3000000000L + i * 123456789123L) ++
        Seq(0L, Long.MaxValue, Long.MaxValue - 7, (1L << 31) - 1, 1L << 31)
      val model = ids.filter(portableHashModel(_) % 100 < 10).toSet
      val got = ids.toDF("k").repartition(parts)
        .filter(pmod(graft.functions.PortableHash.column(col("k")), lit(100L)) < 10)
        .collect().map(_.getLong(0)).toSet
      got == model
    }

  property("SchemaEvolution.widen is commutative, idempotent, and never narrows") = {
    import org.apache.spark.sql.types._
    val types: Gen[DataType] = Gen.oneOf(ByteType, ShortType, IntegerType,
      LongType, FloatType, DoubleType, StringType, BooleanType, DateType)
    val width = Map[DataType, Int](ByteType -> 1, ShortType -> 2,
      IntegerType -> 4, LongType -> 8)
    forAll(types, types) { (a, b) =>
      val w = graft.ingest.SchemaEvolution.widen(a, b)
      val commutative = w == graft.ingest.SchemaEvolution.widen(b, a)
      val idempotent = graft.ingest.SchemaEvolution.widen(w, w) == w
      // an integral input widening to an integral result never narrows
      val noNarrow = (width.get(a), width.get(w)) match {
        case (Some(wa), Some(ww)) => ww >= wa
        case _ => true
      }
      // absorbing: re-widening the result with either input is a no-op
      val absorbing = graft.ingest.SchemaEvolution.widen(w, a) == w &&
        graft.ingest.SchemaEvolution.widen(w, b) == w
      commutative && idempotent && noNarrow && absorbing
    }
  }

  // --- behavioral analytics vs independent in-memory references ---

  private val eventGen: Gen[List[(Long, String, Long)]] =
    Gen.listOfN(30, Gen.zip(
      Gen.chooseNum(1L, 5L),                      // user
      Gen.oneOf("view", "click", "purchase"),     // step
      Gen.chooseNum(0L, 100L)))                   // minutes since epoch

  property("funnel matches the greedy first-qualifying reference on random logs") =
    forAll(eventGen) { evs =>
      import spark.implicits._
      val steps = Seq("view", "click", "purchase")
      val gapMin = 30L
      // independent reference: per user, earliest step-1 event, then the
      // earliest later event of each next step within the gap
      val byUser = evs.groupBy(_._1)
      val reach = Array.fill(steps.length)(0)
      byUser.values.foreach { rows =>
        var t = rows.filter(_._2 == steps.head).map(_._3).minOption
        t.foreach(_ => reach(0) += 1)
        steps.tail.zipWithIndex.foreach { case (step, i) =>
          t = t.flatMap(pt => rows
            .filter(r => r._2 == step && r._3 > pt && r._3 <= pt + gapMin)
            .map(_._3).minOption)
          t.foreach(_ => reach(i + 1) += 1)
        }
      }
      val df = evs.map { case (u, s, m) =>
        (u, s, new java.sql.Timestamp(m * 60000L)) }
        .toDF("user_id", "event_type", "ts")
      val got = operators.Funnel.run(df, steps, s"$gapMin minutes")
        .collect().map(r => r.getLong(0).toInt -> r.getLong(2)).toMap
      // step rows exist even at zero reach; counts must match the reference
      steps.indices.forall(i => got(i + 1) == reach(i).toLong)
    }

  property("one-scan funnel is result-identical to the K-scan plan on random logs") =
    forAll(eventGen) { evs =>
      import spark.implicits._
      val steps = Seq("view", "click", "purchase")
      val df = evs.map { case (u, s, m) =>
        (u, s, new java.sql.Timestamp(m * 60000L)) }
        .toDF("user_id", "event_type", "ts")
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(_.toString).toSeq
      rows(operators.Funnel.runOneScan(df, steps, "30 minutes")) ==
        rows(operators.Funnel.run(df, steps, "30 minutes"))
    }

  property("unordered funnel: step counts match a per-user set-fold reference") =
    forAll(eventGen) { evs =>
      import spark.implicits._
      val steps = Seq("view", "click", "purchase")
      val gapMin = 30L
      // reference: per user, t0 = first funnel event; k = distinct step
      // types whose FIRST occurrence is within the gap of t0
      val ks = evs.groupBy(_._1).values.map { rows =>
        val t0 = rows.map(_._3).min
        steps.count(s => rows.filter(_._2 == s).map(_._3).minOption
          .exists(_ <= t0 + gapMin))
      }.toSeq
      val expected = steps.indices.map(i => ks.count(_ >= i + 1).toLong)
      val df = evs.map { case (u, s, m) =>
        (u, s, new java.sql.Timestamp(m * 60000L)) }
        .toDF("user_id", "event_type", "ts")
      val got = operators.Funnel.runUnordered(df, steps, s"$gapMin minutes")
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      steps.indices.forall(i => got(i + 1) == expected(i))
    }

  property("segmented fill carry is bit-identical to the windowed carry") =
    forAll(Gen.listOfN(16, Gen.zip(Gen.oneOf("a", "b"),
      Gen.chooseNum(0L, 9L), Gen.chooseNum(1, 99)))) { evs =>
      evs.nonEmpty ==> {
        import spark.implicits._
        val df = evs.map { case (s, h, v) =>
          (s, new java.sql.Timestamp(h * 3600000L), v.toDouble) }
          .toDF("series", "ts", "value")
        def rows(threshold: Long) = operators.TimeSeriesFill
          .hourlyWithPath(df, "series", "ts", "value", threshold)
        val (seg, pSeg) = rows(1L)             // force the segmented path
        val (win, pWin) = rows(Long.MaxValue)  // force the windowed path
        def render(d: org.apache.spark.sql.DataFrame) =
          d.orderBy("series", "hour").collect().map(_.toString).toSeq
        pSeg == "segmented" && pWin == "windowed" && render(seg) == render(win)
      }
    }

  property("series fill: dense grid, observed sums preserved, carry matches a fold") =
    forAll(Gen.listOfN(20, Gen.zip(Gen.oneOf("a", "b"),
      Gen.chooseNum(0L, 6L), Gen.chooseNum(1, 99)))) { evs =>
      evs.nonEmpty ==> {
        import spark.implicits._
        val df = evs.map { case (s, h, v) =>
          (s, new java.sql.Timestamp(h * 3600000L), v.toDouble) }
          .toDF("series", "ts", "value")
        val rows = operators.TimeSeriesFill.hourly(df, "series", "ts", "value")
          .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime / 3600000L,
            Option(r.get(2)).map(_.asInstanceOf[Double]),
            Option(r.get(3)).map(_.asInstanceOf[Double])))
        val lo = evs.map(_._2).min; val hi = evs.map(_._2).max
        val seriesIds = evs.map(_._1).distinct
        val spine = (lo to hi)
        val dense = rows.length == seriesIds.size * spine.size &&
          seriesIds.forall(s => spine.forall(h => rows.exists(r => r._1 == s && r._2 == h)))
        val sums = evs.groupBy(e => (e._1, e._2)).view
          .mapValues(g => math.round(g.map(_._3.toDouble).sum * 10000) / 10000.0).toMap
        val observedOk = rows.forall { case (s, h, obs, _) =>
          obs == sums.get((s, h)) }
        val carryOk = seriesIds.forall { s =>
          var last: Option[Double] = None
          rows.filter(_._1 == s).sortBy(_._2).forall { case (_, h, obs, filled) =>
            if (obs.isDefined) last = obs
            filled == last
          }
        }
        dense && observedOk && carryOk
      }
    }

  // identified event logs for the round-13 keys: event_id = list index
  // (unique), ts ties across users AND within a user are frequent by
  // construction so the (ts, event_id) tiebreak is actually exercised
  private val idEventGen: Gen[List[(Long, Long, String, Long)]] =
    Gen.listOfN(25, Gen.zip(
      Gen.chooseNum(1L, 4L),                                // user
      Gen.oneOf("view", "click", "purchase", "signup"),     // type
      Gen.chooseNum(0L, 90L)))                              // minutes
      .map(_.zipWithIndex.map { case ((u, t, m), i) => (i.toLong, u, t, m) })

  private def stageEvents(evs: List[(Long, Long, String, Long)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_prop_ev").toString
    evs.map { case (id, u, t, m) =>
      (id, u, t, new java.sql.Timestamp(m * 60000L)) }
      .toDF("event_id", "user_id", "event_type", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  property("attribution matches the per-user first/last pre-purchase pick") =
    forAll(idEventGen) { evs =>
      // reference: per user with a purchase, journey = events strictly
      // before the FIRST purchase ts, excluding purchases; pick min/max
      // by (ts, event_id)
      val picks = evs.groupBy(_._2).values.flatMap { rows =>
        rows.filter(_._3 == "purchase").map(_._4).minOption.flatMap { pt =>
          val pre = rows.filter(r => r._4 < pt && r._3 != "purchase")
          Option.when(pre.nonEmpty)(
            (pre.minBy(r => (r._4, r._1))._3, pre.maxBy(r => (r._4, r._1))._3))
        }
      }.toSeq
      val expected =
        picks.groupBy(_._1).view.mapValues(_.size.toLong).toMap.map {
          case (t, n) => ("first", t) -> n } ++
        picks.groupBy(_._2).view.mapValues(_.size.toLong).toMap.map {
          case (t, n) => ("last", t) -> n }
      val got = queries.EventAnalytics.qAttribution
        .run(spark, stageEvents(evs)).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      got == expected
    }

  property("session paths match the gaps-and-islands prefix reference") =
    forAll(idEventGen) { evs =>
      evs.nonEmpty ==> {
        // reference: per user in (ts, event_id) order, a >30-minute gap
        // opens a session; path = first <=3 types joined by '>'
        val paths = evs.groupBy(_._2).values.flatMap { rows =>
          val sorted = rows.sortBy(r => (r._4, r._1))
          val sessions = scala.collection.mutable.ListBuffer(
            scala.collection.mutable.ListBuffer(sorted.head))
          sorted.sliding(2).foreach {
            case Seq(a, b) =>
              if (b._4 - a._4 > 30L) sessions += scala.collection.mutable.ListBuffer(b)
              else sessions.last += b
            case _ =>
          }
          sessions.map(_.take(3).map(_._3).mkString(">"))
        }.toSeq
        val expected = paths.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val got = queries.EventAnalytics.qEventPaths
          .run(spark, stageEvents(evs)).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        got == expected
      }
    }

  property("basket pair expansion equals the nested-loop pair reference") = {
    // random order books: 1-6 orders, baskets of up to 8 parts with
    // DUPLICATE lines allowed (the expansion must dedup per basket)
    val bookGen = Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n,
      Gen.nonEmptyListOf(Gen.chooseNum(1L, 9L)).map(_.take(8))))
    forAll(bookGen) { book =>
      book.nonEmpty ==> {
        import spark.implicits._
        val li = book.zipWithIndex
          .flatMap { case (ps, o) => ps.map(p => (o.toLong, p)) }
          .toDF("l_orderkey", "l_partkey")
        // reference: per order, distinct sorted parts, all i<j pairs,
        // multiset across orders
        val expected = book.map(_.distinct.sorted).flatMap(b =>
          for (i <- b.indices; j <- i + 1 until b.size) yield (b(i), b(j)))
          .groupBy(identity).view.mapValues(_.size).toMap
        val got = queries.Baskets
          .pairs(queries.Baskets.baskets(li), "a", "b").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(identity).view.mapValues(_.size).toMap
        got == expected
      }
    }
  }

  property("pigeonhole segment blocking finds exactly the true lev<=2 pair set") = {
    // short {a,b,c} strings of length 1-7: dense near pairs, plus the
    // short-name fallback path (len < maxDist+1) and asymmetric-length
    // pairs (indels) — the alignment-shift cases the position window
    // must cover
    val nameGen = Gen.chooseNum(1, 7)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    forAll(Gen.listOfN(12, nameGen).map(_.distinct)) { names =>
      names.nonEmpty ==> {
        import spark.implicits._
        val expected = (for (x <- names; y <- names if x < y && lev(x, y) <= 2)
          yield (x, y)).toSet
        val df = names.toDF("n")
        val got = operators.FuzzyBlocking.segmentPairs(
            df.select(org.apache.spark.sql.functions.col("n").as("a")),
            df.select(org.apache.spark.sql.functions.col("n").as("b")), 2)
          .filter(org.apache.spark.sql.functions.col("a") <
            org.apache.spark.sql.functions.col("b"))
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
        got == expected
      }
    }
  }

  property("incremental ER == union-find rebuild under ANY batch split") = {
    // tiny {a,b}-alphabet names make near pairs dense, so random splits
    // regularly force the cross-batch cluster merges (forwarding rows,
    // cascades) that are the operator's hard path
    val nameGen = Gen.chooseNum(2, 5)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString))
    val caseGen = for {
      names <- Gen.listOfN(8, nameGen).map(_.distinct)
      cuts <- Gen.listOfN(names.size, Gen.chooseNum(0, 2))
    } yield (names, cuts)
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    forAll(caseGen) { case (names, cuts) =>
      names.nonEmpty ==> {
        import spark.implicits._
        // reference: driver-side union-find over all lev<=2 pairs
        val parent = scala.collection.mutable.Map(names.map(n => n -> n): _*)
        def find(x: String): String =
          if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
        for (a <- names; b <- names if a < b && lev(a, b) <= 2) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            val m = if (ra < rb) ra else rb
            parent(if (ra < rb) rb else ra) = m
          }
        }
        val expected = names.map(n => n -> find(n)).toMap
        val dir = java.nio.file.Files
          .createTempDirectory("graft_er_prop").toString
        names.zip(cuts).groupBy(_._2).toSeq.sortBy(_._1).foreach {
          case (_, group) =>
            operators.IncrementalEntityResolution.ingest(
              spark, dir, group.map(_._1).toDF("name"), "name")
        }
        val got = operators.IncrementalEntityResolution.resolved(spark, dir)
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        got == expected
      }
    }
  }

  property("text index (tf + lengths + positions) == rebuild under ANY op sequence") = {
    // random insert/update/delete sequences over a 3-doc id space, tiny
    // 3-word alphabet (maximizes shared tokens, so the signed deltas
    // genuinely cancel and collide); every view must converge to the
    // from-scratch build of the final corpus state. Exercises the
    // −old/+new update additivity on all three artifacts at once.
    val tinyDoc = Gen.listOfN(4, Gen.oneOf("a", "b", "c"))
      .map(_.mkString(" "))
    val opGen = Gen.zip(Gen.chooseNum(1, 3), Gen.oneOf("ins", "upd", "del"),
      tinyDoc)
    forAll(Gen.listOfN(4, opGen)) { ops =>
      import spark.implicits._
      import streaming.TextIndexStore
      val dir = java.nio.file.Files
        .createTempDirectory("graft_text_prop").toString
      val (p, l, o) = (s"$dir/post", s"$dir/len", s"$dir/pos")
      var state = Map(100L -> "a b") // non-empty base so reads exist
      TextIndexStore.build(spark, p, l, state.toSeq.toDF("doc_id", "text"),
        positionsDir = Some(o))
      var ver = 0L
      ops.foreach { case (id0, op, txt) =>
        val id = id0.toLong
        // CDC reality: an op on an id reflects its CURRENT state (an
        // "insert" of a live id arrives as an update and vice versa)
        val change: Option[(String, String, String)] = op match {
          case "del" =>
            if (state.contains(id)) Some(("delete", state(id), null)) else None
          case _ =>
            if (state.contains(id)) Some(("update", state(id), txt))
            else Some(("insert", null, txt))
        }
        change.foreach { case (ct, old, nw) =>
          TextIndexStore.ingestBatch(spark, p, l,
            Seq((id, ct, old, nw))
              .toDF("doc_id", "change_type", "old_text", "new_text"),
            ver, positionsDir = Some(o))
          ver += 1
          if (ct == "delete") state -= id else state += id -> nw
        }
      }
      val (p2, l2, o2) = (s"$dir/post2", s"$dir/len2", s"$dir/pos2")
      TextIndexStore.build(spark, p2, l2,
        state.toSeq.toDF("doc_id", "text"), positionsDir = Some(o2))
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      rows(TextIndexStore.postings(spark, p)) ==
        rows(TextIndexStore.postings(spark, p2)) &&
      rows(TextIndexStore.docLens(spark, l)) ==
        rows(TextIndexStore.docLens(spark, l2)) &&
      rows(TextIndexStore.positions(spark, o)) ==
        rows(TextIndexStore.positions(spark, o2))
    }
  }

  property("signed cells: live read == net-sum model; fold and re-drain change nothing") = {
    // random batch sequences over a 3-key space, drained one CDC version
    // at a time: inserts of (key, value) items, deletes of live items,
    // in-batch insert+delete pairs that cancel, duplicate keys, empty
    // batches; a fold at a random point; 1 vs 4 buckets. The measures
    // are (g, m) = (item count, value sum), so the gauge g is ≥ 0 and
    // g = 0 implies m = 0, the invariant every additive store keeps.
    // Every live read runs both ways: as the one-partition read of a
    // small log, and with the log planned above that threshold.
    sealed trait Op
    case class Ins(k: Long, x: Long) extends Op
    case class Del(k: Long) extends Op
    case class Cancel(k: Long, x: Long) extends Op
    val key = Gen.chooseNum(0L, 2L)
    val value = Gen.chooseNum(-3L, 3L)
    val op: Gen[Op] = Gen.frequency(
      3 -> Gen.zip(key, value).map(Ins.tupled),
      2 -> key.map(Del),
      1 -> Gen.zip(key, value).map(Cancel.tupled))
    val batch = Gen.frequency(1 -> Gen.const(List.empty[Op]),
      4 -> Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, op)))
    val batches = Gen.chooseNum(1, 4).flatMap(Gen.listOfN(_, batch))
    forAll(batches, Gen.oneOf(1, 4), Gen.chooseNum(0, 3)) {
        (ops, buckets, foldAt) =>
      import spark.implicits._
      import streaming.{SignedCells, SnapshotStore, VersionDrain}
      val cells = SignedCells(Seq("k"), Seq("g", "m"))
      val dir0 = java.nio.file.Files
        .createTempDirectory("graft_cells_prop").toString
      val (cdc, dir, ckpt) = (s"$dir0/cdc", s"$dir0/store", s"$dir0/ckpt")
      var items = Map.empty[Long, List[Long]] // the model: live items per key
      def model: Set[(Long, Long, Long)] = items.collect {
        case (k, xs) if xs.nonEmpty => (k, xs.size.toLong, xs.sum)
      }.toSet
      def version: Option[Long] =
        SnapshotStore.currentManifest(spark, dir).map(_.version)
      def liveRead(): Set[(Long, Long, Long)] =
        cells.live(spark, dir).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      var bothWaysAgree = true
      def live: Set[(Long, Long, Long)] =
        if (version.isEmpty) Set.empty
        else {
          val one = liveRead()
          bothWaysAgree &&= AboveThreshold(liveRead()) == one
          one
        }
      def drain(): Unit =
        SignedCells.drain(spark, cdc, ckpt, Seq(cells -> dir), None) {
          (b, v) => cells.ingest(spark, dir, b, v, buckets)
        }
      var lastCommitted = Option.empty[Long]
      var ok = true
      ops.zipWithIndex.foreach { case (bOps, v) =>
        val rows = bOps.flatMap {
          case Ins(k, x) =>
            items += k -> (x :: items.getOrElse(k, Nil)); Seq((k, 1L, x))
          case Del(k) => items.getOrElse(k, Nil) match {
            case x :: rest => items += k -> rest; Seq((k, -1L, -x))
            case Nil => Nil
          }
          case Cancel(k, x) => Seq((k, 1L, x), (k, -1L, -x))
        }
        rows.toDF("k", "g", "m").coalesce(1)
          .write.parquet(s"$cdc/__version=$v")
        val allZero = rows.groupBy(_._1).values
          .forall(rs => rs.map(_._2).sum == 0L && rs.map(_._3).sum == 0L)
        val before = version
        drain()
        if (allZero) ok &&= version == before // no version committed
        else lastCommitted = Some(v.toLong)
        ok &&= live == model
        if (v == foldAt && version.nonEmpty) {
          cells.fold(spark, dir)
          ok &&= live == model &&
            VersionDrain.readFoldedThrough(spark, dir) == lastCommitted
        }
      }
      // a lost watermark re-drains the whole feed: folded versions are
      // floored, the rest re-merge identical rows
      new java.io.File(s"$ckpt/_version_watermark").delete()
      drain()
      ok && live == model && bothWaysAgree
    }
  }

  property("activeUsersFrom == driver-side DAU/WAU model") = {
    // distinct (day, user) activity over small day and user ranges;
    // the degenerate inputs run on every pass: the empty frame, a single
    // row, one user, and gaps longer than the 7-day window
    val day0 = java.time.LocalDate.of(2024, 2, 25)
    def check(raw: List[(Int, Long)]): Prop = {
      import spark.implicits._
      val act = raw.distinct
      val days = act.map(_._1).distinct.sorted
      val model = days.map { d =>
        val dau = act.count(_._1 == d).toLong
        val wau = act.filter(a => a._1 <= d && a._1 >= d - 6)
          .map(_._2).distinct.size.toLong
        (day0.plusDays(d.toLong).toString, dau, wau,
          BigDecimal(dau.toDouble / wau)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      val out = queries.EventAnalytics.activeUsersFrom(
        act.map { case (d, u) =>
          (java.sql.Date.valueOf(day0.plusDays(d.toLong)), u)
        }.toDF("d", "user_id"))
      val got = out.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val schema = out.schema.map(f =>
        (f.name, f.dataType.simpleString, f.nullable))
      (got == model) :| s"rows $got != model $model" &&
        (schema == Seq(("day", "string", true), ("dau", "bigint", false),
          ("wau", "bigint", false), ("stickiness", "double", true))) :|
          s"schema $schema"
    }
    def pairs(maxDay: Int, maxUser: Long): Gen[List[(Int, Long)]] =
      Gen.listOf(Gen.zip(Gen.chooseNum(0, maxDay), Gen.chooseNum(1L, maxUser)))
    Prop.all(
      check(Nil),
      check(List((3, 1L))),
      check(List((0, 1L), (2, 1L), (9, 1L), (10, 1L), (30, 1L))),
      check(List((0, 1L), (0, 2L), (8, 2L), (20, 3L), (26, 1L)))) &&
      forAll(Gen.oneOf(pairs(40, 1L), pairs(12, 4L), pairs(60, 3L)))(check)
  }
}
