package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.queries.GateMemo
import graft.catalog.{Ddl, Expectations, Profile, TransformGen}
import graft.catalog.Expectations.{InRange, NotNull, Unique}
import graft.pipeline.{ContractGate, Quarantine}
import graft.perfbench.Gen.shuffle

/** The reference app's user journey (upload → quarantine split →
  * profile → DDL + transform → contract-gated load → preview, then SQL
  * over the loaded tables), driven file by file through the pipeline
  * and catalog layers, followed by registry reads over what loaded and
  * the iterative graph operators over the loaded lineitem's co-purchase
  * edges. */
object EtlJourney {

  /** Orders in the re-emitted star schema (~4 lineitem rows each). */
  val Orders = 5000
  /** Upload files per table, one CSV and one JSON (which chunk gets which
    * format is seeded), so every seed loads the same mix; the diverted
    * orders file never removes the table. Every file stays under the
    * reference's 5 MB upload limit (`FileUpload.tsx:46`). */
  val FilesPerTable = 2
  val MaxUploadBytes = 5L * 1024 * 1024

  /** Registry read keys run after the loads: a join, a rollup and a
    * window over the uploaded tables, always in this order so that every
    * seed measures the same cold-to-warm sequence. Each returns the same
    * content over the loaded tables as over the generator's typed copy
    * (README.md lists the keys that do not survive the round trip). */
  val ReadKeys = Seq("q_join_inner", "q_agg_rollup", "q_win_rank")
  /** Passes over [[ReadKeys]] per journey: a read lasts about half a
    * second, and nine of them give `query_p50_ms` a steady median. */
  val ReadPasses = 3

  val Contracts: Map[String, Seq[Expectations.Rule]] = Map(
    "region" -> Seq(Unique("r_regionkey")),
    "nation" -> Seq(Unique("n_nationkey")),
    "customer" -> Seq(Unique("c_custkey")),
    "supplier" -> Seq(Unique("s_suppkey")),
    "part" -> Seq(Unique("p_partkey"), InRange("p_size", 1, 50)),
    "orders" -> Seq(Unique("o_orderkey"), NotNull("o_custkey"), InRange("o_totalprice", 0, 1e7)),
    "lineitem" -> Seq(InRange("l_discount", 0.0, 0.1), InRange("l_quantity", 1, 50)))

  /** One emitted upload file and what was injected into it. */
  final case class Upload(file: File, table: String, lines: Int, corrupt: Int,
      broken: Boolean, clean: IndexedSeq[Row])

  final case class Inputs(uploads: Seq[Upload], star: Gen.Star, digest: String, bytes: Long)

  /** Emit orders and lineitem as upload files: each table's two chunks
    * get one CSV and one JSON format in seeded order, ~1% of each file's
    * lines are corrupted at seeded positions, and the CSV orders file
    * breaks its table contract, by a duplicated order key or an
    * out-of-range price (the kind is seeded). Breaking an orders file keeps the
    * loaded lineitem, and with it the read and graph work, the same size
    * for every seed. */
  def generate(run: Run, dir: File): Inputs = {
    val r = Gen.rng(run.seed, "uploads")
    val star = Gen.star(run.seed, Orders)
    val chunks = Seq(star.orders, star.lineitem).flatMap { t =>
      t.rows.grouped((t.rows.size + FilesPerTable - 1) / FilesPerTable).zipWithIndex.map { case (rows, i) => (t, i, rows) }
    }
    val formats = Seq.fill(chunks.size / FilesPerTable)(shuffle(r, Seq("csv", "json"))).flatten
    val broken = chunks.indices.filter(i => chunks(i)._1.name == "orders" && formats(i) == "csv").toSet
    dir.mkdirs()
    val uploads = chunks.indices.map { i =>
      val (t, part, rows0) = chunks(i)
      val positions = shuffle(r, rows0.indices)
      val bad = positions.take(rows0.size / 100).toSet
      val rows =
        if (!broken(i)) rows0
        else {
          val (victim, donor) = (positions(rows0.size / 100), positions(rows0.size / 100 + 1))
          val v = rows0(victim).toSeq.toArray
          if (r.nextBoolean()) v(0) = rows0(donor).get(0)
          else v(t.schema.fieldIndex("o_totalprice")) = -1.0
          rows0.updated(victim, Row.fromSeq(v.toSeq))
        }
      val text = rows.indices.map { j =>
        val line = if (formats(i) == "csv") Gen.csvLine(rows(j)) else Gen.jsonLine(t.schema, rows(j))
        if (!bad(j)) line
        else if (formats(i) == "csv") line + ",#,#" // extra fields: a ragged line
        else line.take(line.length / 2) // truncated record
      }
      val header = if (formats(i) == "csv") Seq(t.schema.fieldNames.mkString(",")) else Nil
      val f = new File(dir, f"${t.name}_$part%02d.${formats(i)}")
      Files.write(f.toPath, (header ++ text).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      require(f.length <= MaxUploadBytes, s"$f exceeds the upload limit")
      Upload(f, t.name, rows.size, bad.size, broken(i),
        if (broken(i)) IndexedSeq.empty else rows.indices.filterNot(bad).map(rows))
    }
    // uploads go table by table, CSV before JSON: which chunk each is and
    // what it breaks is seeded, the sequence of work is the same for every seed
    val ordered = uploads.sortBy(u => (u.table != "orders", !u.file.getName.endsWith(".csv")))
    Inputs(ordered, star, Run.sha(uploads.map(u => Run.sha(
      new String(Files.readAllBytes(u.file.toPath), StandardCharsets.UTF_8))).mkString),
      uploads.map(_.file.length).sum)
  }

  /** The clean copy, typed like the engine's fixtures: every row that
    * should load. */
  def writeClean(run: Run, in: Inputs, cleanDir: String): Unit =
    Seq(in.star.orders, in.star.lineitem).foreach { t =>
      val rows = in.uploads.filter(_.table == t.name).flatMap(_.clean).toIndexedSeq
      t.copy(rows = rows).df(run.spark).write.mode("overwrite").parquet(s"$cleanDir/${t.name}.parquet")
    }

  /** Spark type each DDL type loads as; naive timestamps like the
    * engine's own fixtures. */
  private def loadType(sqlType: String): String = sqlType match {
    case "INTEGER" => "bigint"
    case "REAL" => "double"
    case "TIMESTAMP" => "timestamp_ntz"
    case "DATE" => "date"
    case "BOOLEAN" => "boolean"
    case _ => "string"
  }

  final case class Outcome(clean: Long, quarantined: Long, diverted: Boolean)

  /** One upload through the pipeline into `<workDir>/<table>.parquet`;
    * done when the 10-row preview of the loaded table returns. */
  def upload(run: Run, u: Upload, workDir: String): Outcome = {
    val t = run.tracer
    val spark = run.spark
    val (split, nClean, nQuarantined) = t.span("pipeline.quarantine") {
      val s = if (u.file.getName.endsWith(".csv")) Quarantine.csv(spark, u.file.getPath)
        else Quarantine.json(spark, u.file.getPath)
      (s, s.clean.count(), s.quarantined.count())
    }
    try {
      val profile = t.span("catalog.profile")(Profile.of(split.clean))
      val view = s"upload_${u.table}"
      val (ddl, sql) = t.span("catalog.ddl")(
        (Ddl.fromProfile(u.table, profile), TransformGen.transformSql(view, profile)))
      require(ddl.contains(u.table))
      split.clean.createOrReplaceTempView(view)
      val alias = TransformGen.aliases(profile)
      val batch = spark.sql(sql)
      val dest = s"$workDir/${u.table}.parquet"
      var diverted = false
      t.span("pipeline.gate") {
        ContractGate.gatedLoad(u.table, batch, Contracts(u.table)) { b =>
          t.span("pipeline.load") {
            b.select(profile.map(p => col(s"`${alias(p.columnName)}`")
                .cast(loadType(p.inferredSqlType)).as(alias(p.columnName))): _*)
              .write.mode("append").parquet(dest)
            spark.read.parquet(dest).limit(10).collect()
          }
        } { (_, _) => diverted = true }
      }
      Outcome(nClean, nQuarantined, diverted)
    } finally split.unpersist()
  }

  def apply(run: Run, corrupt: Boolean, setupReps: Int): Unit = {
    val spark = run.spark
    val keys = ReadKeys
    val outcomes = scala.collection.mutable.Map.empty[String, Outcome]
    val answers = scala.collection.mutable.Map.empty[String, Set[String]]

    /** One journey into `dir`: every upload, then the reads, then the
      * graph operators over the loaded lineitem. */
    def journey(in: Inputs, dir: String): Unit = {
      val t = run.tracer
      in.uploads.foreach { u =>
        run.attempt(s"upload ${u.file.getName}") {
          val (o, s) = run.timed(upload(run, u, dir))
          run.sample("load_s", s)
          run.count("load_time_s", s)
          if (!o.diverted) run.count("load_rows", o.clean)
          outcomes(u.file.getName) = o
          if (t.active) {
            run.count("pipeline.quarantine.rows", o.quarantined)
            if (o.diverted) run.count("pipeline.gate.diverted", 1)
          }
        }
      }
      def answer(name: String, rows: Seq[Row], tamper: Boolean): Unit =
        answers(name) = answers.getOrElse(name, Set.empty) + Run.hashRows(if (corrupt && tamper) rows.drop(1) else rows)
      for (_ <- 1 to ReadPasses; k <- keys) {
        run.attempt(s"read $k") {
          val (rows, s) = run.timed(t.span("queries.read")(SparkEntry.queries(k)(spark, dir).collect().toSeq))
          run.sample("query_ms", s * 1000)
          answer(k, rows, k == keys.head)
        }
      }
      run.attempt("graph edges") {
        val e = t.span("queries.graph_edges")(GraphPhase.edges(spark.read.parquet(s"$dir/lineitem.parquet")))
        try GraphPhase.Algorithms.foreach { case (name, f) =>
          run.attempt(name) {
            val (rows, s) = run.timed(t.span(name)(f(e)))
            run.sample("graph_ms", s * 1000)
            answer(name, rows, name == "operators.components")
          }
        } finally GateMemo.unpersistCheckpoint(e)
      }
    }

    // set-up: generation, the clean copy, and the reference answers over
    // it (the read keys, label propagation), which also warm the read and
    // graph code paths before the measured phase
    val cleanDir = new File(run.root, "inputs/clean").getPath
    val expected = scala.collection.mutable.Map.empty[String, scala.util.Try[String]]
    val in = run.setUp(setupReps)(generate(run, new File(run.root, "inputs/uploads")))(_.digest) { in =>
      writeClean(run, in, cleanDir)
      keys.foreach(k => expected(k) = scala.util.Try(Run.hash(SparkEntry.queries(k)(spark, cleanDir))))
      expected("operators.components") = scala.util.Try(
        GraphPhase.labelPropagation(spark.read.parquet(s"$cleanDir/lineitem.parquet")))
    }
    run.count("input.rows", in.uploads.map(_.lines).sum)
    run.count("input.bytes", in.bytes)

    run.rounds(r => journey(in, run.path(s"journey$r")))

    // correctness, outside the measured phase
    val emitted = in.uploads.map(_.lines).sum
    val got = in.uploads.flatMap(u => outcomes.get(u.file.getName))
    run.check("clean_plus_quarantined_equals_emitted")(
      got.size == in.uploads.size && got.map(o => o.clean + o.quarantined).sum == emitted,
      s"${got.map(o => o.clean + o.quarantined).sum} of $emitted lines accounted")
    run.check("quarantined_equals_injected")(
      got.map(_.quarantined).sum == in.uploads.map(_.corrupt).sum,
      s"quarantined ${got.map(_.quarantined).sum}, injected ${in.uploads.map(_.corrupt).sum}")
    val divertedFiles = in.uploads.filter(u => outcomes.get(u.file.getName).exists(_.diverted)).map(_.file.getName)
    run.check("diverted_equals_contract_breaks")(
      divertedFiles.toSet == in.uploads.filter(_.broken).map(_.file.getName).toSet,
      s"diverted $divertedFiles")
    keys.foreach { k =>
      run.check(s"read_matches_clean_copy:$k")(answers.get(k).contains(Set(expected(k).get)),
        s"answers ${answers.get(k)} vs clean ${expected(k)}")
    }
    // the graph operators ran over the loaded lineitem: its baskets must
    // be the clean copy's, and every algorithm must have answered
    def baskets(dir: String) = Run.hash(spark.read.parquet(s"$dir/lineitem.parquet").select("l_orderkey", "l_partkey"))
    run.check("graph_input_matches_clean_copy")(
      (0 until run.counts("rounds").toInt).forall(r => baskets(run.path(s"journey$r")) == baskets(cleanDir)),
      "loaded lineitem differs from the clean copy")
    run.check("every_graph_operator_answered")(
      GraphPhase.Algorithms.forall(a => answers.get(a._1).exists(_.size == 1)), s"answers $answers")
    run.check("star_contraction_matches_label_propagation")(
      answers.get("operators.components").contains(Set(expected("operators.components").get)),
      "components differ")
  }
}
