package graft.tools

import graft.GraftSession
import graft.queries.Graphs
import graft.streaming.{ActivityStore, GraphEdgeStore, SignedCells, SnapshotStore,
  TextIndexStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Store-serve size sweep: where reading a version log as ONE partition
  * ([[SignedCells.readLog]]) stops beating the exchange-based plan.
  *
  * For each target planned log size (MB, default 0.25,1,8,32,64,128) it
  * builds three synthetic signed-cell logs — an edge log (u, v, w), an
  * activity log (d, user_id, cnt), the first two a base plus one CDC
  * version that retracts or lowers a tenth of the cells, and a text
  * index (postings sized to the target, plus its doc lengths) — and
  * times four serves over them both ways:
  * [[GraphEdgeStore.basketPairs]] (sum + top-k), PageRank over the store
  * edges ([[Graphs.pagerankFrom]], the graph serve; only up to
  * `graphMaxMb`, default 8, since one-partition PageRank over a large
  * log runs for minutes), [[ActivityStore.activeUsers]] (sum + DAU/WAU)
  * and [[TextIndexStore.search]] (term-pruned sum + BM25 top-k). Each
  * (serve, plan) pair gets one warm-up and `reps` timed runs,
  * alternating which plan runs first; the line reports the medians and
  * their ratio (< 1 means one partition wins).
  *
  * Run: `sbt "runMain graft.tools.ServeSizeProbe [sizesMb] [reps] [graphMaxMb]"`
  * (SPARK_GRAFT_CPUS sets the local core count, default 4). */
object ServeSizeProbe {

  private val MB = 1L << 20

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def planned(spark: SparkSession, dir: String): Long =
    SnapshotStore.read(spark, dir).queryExecution.optimizedPlan.stats
      .sizeInBytes.toLong

  /** Unique (u, v) pairs: node u links to its next 16 ids, so an edge
    * log of n rows spans about n / 16 nodes (average degree 32). */
  private def edgeLog(spark: SparkSession, dir: String, rows: Long): Unit = {
    val ids = spark.range(rows)
    val cells = ids.select((col("id") / 16).cast("long").as("u"),
      ((col("id") / 16).cast("long") + 1 + col("id") % 16).as("v"),
      (lit(1L) + col("id") % 5).as("w"))
    val cellsOf = SignedCells(Seq("u", "v"), Seq("w"))
    cellsOf.build(spark, dir, cells, 16)
    cellsOf.commit(spark, dir,
      cells.filter(col("id") % 10 === 0 || col("u") % 10 === 0)
        .select(col("u"), col("v"),
          when(col("u") % 10 === 0, -col("w")).otherwise(lit(-1L)).as("w"))
        .filter(col("w") =!= 0L), 0L, 16)
  }

  /** Unique (d, user_id) pairs: each user is active on 20 of 90 days. */
  private def activityLog(spark: SparkSession, dir: String,
      rows: Long): Unit = {
    val ids = spark.range(rows)
    val user = (col("id") / 20).cast("long")
    val cells = ids.select(
      date_add(lit("2024-01-01").cast("date"),
        ((col("id") % 20) * 4 + user % 4).cast("int")).as("d"),
      user.as("user_id"), (lit(1L) + col("id") % 3).as("cnt"), col("id"))
    val cellsOf = SignedCells(Seq("d", "user_id"), Seq("cnt"))
    cellsOf.build(spark, dir, cells.drop("id"), 8)
    cellsOf.commit(spark, dir,
      cells.filter(col("id") % 10 === 0)
        .select(col("d"), col("user_id"), (-col("cnt")).as("cnt")), 0L, 8)
  }

  /** Postings of docs of 20 words over a 5,000-word vocabulary; the doc
    * lengths go to `<dir>_len`. */
  private def textIndex(spark: SparkSession, dir: String, docs: Long): Unit =
    TextIndexStore.build(spark, dir, s"${dir}_len",
      spark.range(docs).select(col("id").as("doc_id"), concat_ws(" ",
        (0 until 20).map(i =>
          concat(lit("w"), pmod(hash(col("id"), lit(i)), lit(5000)))): _*)
        .as("text")))

  /** Median seconds of `serve` read as one partition and with the
    * exchange-based plan. */
  private def compare(reps: Int)(serve: => Unit): (Double, Double) = {
    val saved = SignedCells.onePartitionMaxBytes
    def run(onePartition: Boolean): Double = {
      SignedCells.onePartitionMaxBytes =
        if (onePartition) Long.MaxValue else -1L
      try time(serve) finally SignedCells.onePartitionMaxBytes = saved
    }
    run(true); run(false)
    val one = Seq.newBuilder[Double]; val exch = Seq.newBuilder[Double]
    for (i <- 0 until reps) {
      if (i % 2 == 0) { one += run(true); exch += run(false) }
      else { exch += run(false); one += run(true) }
    }
    (median(one.result()), median(exch.result()))
  }

  def main(args: Array[String]): Unit = {
    val sizesMb = args.headOption.map(_.split(",").map(_.toDouble).toSeq)
      .getOrElse(Seq(0.25, 1.0, 8.0, 32.0, 64.0, 128.0))
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val graphMaxMb = args.lift(2).map(_.toDouble).getOrElse(8.0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val out = new java.io.File("target/servesizeprobe").getAbsolutePath
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // bytes per row of each log shape, from a 100k-row pilot
    def bytesPerRow(build: (String, Long) => Unit): Double = {
      val dir = s"$out/pilot"
      graft.LocalFs.rmrf(new java.io.File(out))
      build(dir, 100000L)
      val b = planned(spark, dir).toDouble / 100000L
      graft.LocalFs.rmrf(new java.io.File(out))
      b
    }
    val shapes = Seq[(String, (String, Long) => Unit)](
      "edges" -> ((d, n) => edgeLog(spark, d, n)),
      "activity" -> ((d, n) => activityLog(spark, d, n)),
      "text" -> ((d, n) => textIndex(spark, d, n)))
    def fmt(name: String, t: (Double, Double)): String =
      f"$name one=${t._1}%.2fs exch=${t._2}%.2fs ratio=${t._1 / t._2}%.2f"

    for ((shape, build) <- shapes) {
      val bpr = bytesPerRow(build)
      for (mb <- sizesMb) {
        val dir = s"$out/$shape"
        graft.LocalFs.rmrf(new java.io.File(out))
        val rows = (mb * MB / bpr).toLong
        build(dir, rows)
        val size = planned(spark, dir).toDouble / MB
        val serves = shape match {
          case "edges" => Seq(
            fmt("basketPairs", compare(reps)(
              GraphEdgeStore.basketPairs(spark, dir).collect()))) ++
            (if (mb > graphMaxMb) Nil else Seq(fmt("pagerank",
              compare(reps)(Graphs.pagerankFrom(
                GraphEdgeStore.edges(spark, dir).select("u", "v")).collect()))))
          case "activity" => Seq(fmt("activeUsers", compare(reps)(
            ActivityStore.activeUsers(spark, dir).collect())))
          case _ => Seq(fmt("search", compare(reps)(TextIndexStore.search(
            spark, dir, s"${dir}_len", Seq("w1", "w2", "w3")).collect())))
        }
        println(f"[probe] $shape target=$mb%.2fMB planned=$size%.1fMB " +
          f"rows=$rows%d cpus=$cpus " + serves.mkString(" | "))
      }
    }
    graft.LocalFs.rmrf(new java.io.File(out))
    spark.stop()
  }
}
