package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.queries.{Baskets, Commerce, EventAnalytics}
import graft.streaming.{ActivityStore, GraphEdgeStore, RfmStore, SnapshotStore, Streams, VersionDrain}

/** Maintained stores fed by CDC: seeded change versions commit through
  * `Streams` to three source tables, and after every commit each store
  * drains the new versions and folds when its log is deep, then serving
  * reads run. Nothing here touches `catalog` or graph iteration. */
object StoreCdc {

  /** Subject groups: a GDPR delete wave erases the users and customers
    * whose id is congruent to the cycle's group modulo this. */
  val Groups = 37
  /** Every group holds the same number of users, customers and rows, so
    * every seed commits the same number of change rows per step. */
  val UsersPerGroup = 20
  val EventsPerUser = 10
  val CustomersPerGroup = 8
  val OrdersPerCustomer = 10
  val PartsPerOrder = 4
  val Users = Groups * UsersPerGroup
  val Customers = Groups * CustomersPerGroup
  val Orders = Customers * OrdersPerCustomer
  /** Buckets of every source table and store: one per core of the
    * 4-core machine the benchmark is sized for, not the 8/16 defaults sized
    * for large tables. */
  val Buckets = 4
  /** Share of all events held back from the base and inserted in waves. */
  val HeldShare = 0.2
  /** Held-back rows arrive in this many insert waves, one per cycle; the
    * run ends after at most this many cycles. */
  val InsertWaves = 8
  /** Base events edited per cycle. */
  val EditsPerCycle = 64
  /** Passes over the serving surfaces per cycle: two passes give
    * `query_p50_ms` six samples. */
  val ServePasses = 2
  /** Log depth above which a store folds (the `autoFoldDepth` policy). */
  val FoldDepth = 1
  val Feeds = Seq("events", "orders", "lineitem")
  /** The store each feed drains into (also its directory name). */
  val Consumers = Map("events" -> "activity", "orders" -> "rfm", "lineitem" -> "graph_edge")

  private val EvKeys = Seq("event_id")
  private val OrdKeys = Seq("o_orderkey")
  private val LiKeys = Seq("l_orderkey", "l_partkey")

  /** Directory layout of one set of source tables, feeds and stores. */
  final class Dirs(base: String) {
    def apply(n: String): String = s"$base/$n"
  }

  final case class Data(ev: DataFrame, ord: DataFrame, li: DataFrame,
      evWaves: Seq[DataFrame], evEdits: Seq[DataFrame], doomed: Int, digest: String, rows: Long) {
    /** The GDPR subject group erased in cycle `c`: users and customers
      * with `id % Groups` equal to it. */
    def doomedIn(c: Int): Int = (doomed + c) % Groups
  }

  /** Seeded base / held-back split of events, the held-back ones
    * arriving in waves next to edits of base events; orders and their
    * lines are all in the base and change by erasure. Held-back and
    * edited events belong to subjects no cycle erases, so no later
    * insert or edit brings an erased subject back. Wave, edit and erasure
    * sizes are exact, the same for every seed. */
  def generate(run: Run): Data = {
    val spark = run.spark
    val r = Gen.rng(run.seed, "store-split")
    val doomed = r.nextInt(Groups)
    def spared(subject: Long) = (subject % Groups - doomed + Groups) % Groups >= InsertWaves
    val ev = Gen.events(run.seed, Users, EventsPerUser)
    val star = Gen.star(run.seed, Orders)
    val evRows = ev.rows.map(x => Row(x.getLong(0), x.get(1), x.getLong(2), x.getString(3)))
    // every customer places the same number of orders, in seeded order
    val custOf = Gen.shuffle(r, (1 to Customers).flatMap(c => Seq.fill(OrdersPerCustomer)(c.toLong)))
    val ordRows = star.orders.rows.zip(custOf).map { case (x, c) => Row(x.getLong(0), c, x.get(4), x.getDouble(3)) }
    // the edge store keys lines by (order, part): a basket of distinct parts per order
    val nPart = math.max(Orders * 2 / 15, 50)
    val liRows = ordRows.flatMap { o =>
      Gen.shuffle(r, 1 to nPart).take(PartsPerOrder).sorted.map(p => Row(o.getLong(0), p.toLong))
    }
    val candidates = Gen.shuffle(r, evRows.filter(x => spared(x.getLong(2))).map(_.getLong(0)))
    val nHeld = (evRows.size * HeldShare).toInt / InsertWaves * InsertWaves
    // cycle c's edits: a slice of the other spared events, a day later,
    // switched between view and click
    val edited = candidates.drop(nHeld).take(EditsPerCycle * InsertWaves).grouped(EditsPerCycle).map(_.toSet).toSeq
    def frame(rows: Seq[Row], ddl: String) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
        org.apache.spark.sql.types.StructType.fromDDL(ddl))
    val evDdl = "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING"
    val ordDdl = "o_orderkey BIGINT, o_custkey BIGINT, o_orderdate TIMESTAMP_NTZ, o_totalprice DOUBLE"
    val liDdl = "l_orderkey BIGINT, l_partkey BIGINT"
    val waveOf = candidates.take(nHeld).zipWithIndex.map { case (id, i) => id -> i % InsertWaves }.toMap
    Data(
      frame(evRows.filterNot(x => waveOf.contains(x.getLong(0))), evDdl),
      frame(ordRows, ordDdl),
      frame(liRows, liDdl),
      (0 until InsertWaves).map(w => frame(evRows.filter(x => waveOf.get(x.getLong(0)).contains(w)), evDdl)),
      edited.map(ids => frame(evRows.filter(x => ids(x.getLong(0)))
        .map(x => Row(x.getLong(0), x.getAs[java.time.LocalDateTime](1).plusDays(1), x.getLong(2),
          if (x.getString(3) == "view") "click" else "view")), evDdl)),
      doomed,
      Run.sha((evRows ++ ordRows ++ liRows).map(Run.canon).mkString("\n") +
        candidates.take(nHeld + EditsPerCycle * InsertWaves).mkString(",")),
      evRows.size + ordRows.size + liRows.size)
  }

  /** Source tables committed as their first CDC version, every store
    * built from that base by draining it (the backfill path arrivals also
    * take), and one warm-up serve of every surface. */
  def setUp(run: Run, d: Data, dirs: Dirs): Unit = {
    val spark = run.spark
    Streams.cdcBatch(spark, dirs("src_events"), dirs("cdc_events"), d.ev, EvKeys, Buckets)
    Streams.cdcBatch(spark, dirs("src_orders"), dirs("cdc_orders"), d.ord, OrdKeys, Buckets)
    Streams.cdcBatch(spark, dirs("src_lineitem"), dirs("cdc_lineitem"), d.li, LiKeys, Buckets)
    drains(run, dirs).foreach(_._2())
    surfaces(run, dirs).foreach(_._2().collect())
  }

  /** Store name → its drain, each the store's own `maintainFromCdc`. */
  def drains(run: Run, dirs: Dirs): Seq[(String, () => Unit)] = {
    val spark = run.spark
    Seq(
      "activity" -> (() => ActivityStore.maintainFromCdc(spark, dirs("cdc_events"), dirs("activity"),
        dirs("ckpt_activity"), numBuckets = Buckets)),
      "rfm" -> (() => RfmStore.maintainFromCdc(spark, dirs("cdc_orders"), dirs("rfm"), dirs("ckpt_rfm"), Buckets)),
      "graph_edge" -> (() => GraphEdgeStore.maintainFromCdc(spark, dirs("cdc_lineitem"), dirs("graph_edge"),
        dirs("ckpt_graph_edge"), Buckets)))
  }

  /** Every store with its fold: the depth-triggered fold
    * `autoFoldDepth` would run inside the drain, called here so that
    * its cost gets a span of its own. */
  def folds(run: Run, dirs: Dirs): Seq[(String, () => Unit)] = {
    val spark = run.spark
    Seq(
      "activity" -> (() => ActivityStore.fold(spark, dirs("activity"))),
      "rfm" -> (() => RfmStore.fold(spark, dirs("rfm"))),
      "graph_edge" -> (() => GraphEdgeStore.foldEdges(spark, dirs("graph_edge"))))
  }

  /** Serving surface name → (store-served frame, live recompute over the
    * source tables' current net rows). */
  def surfaces(run: Run, dirs: Dirs): Seq[(String, () => DataFrame, () => DataFrame)] = {
    val spark = run.spark
    def src(n: String) = SnapshotStore.read(spark, dirs(s"src_$n"))
    def cents = round(col("o_totalprice") * 100, 0).cast("bigint")
    Seq(
      ("active_users", () => ActivityStore.activeUsers(spark, dirs("activity")),
        () => EventAnalytics.activeUsersFrom(src("events")
          .select(to_date(date_trunc("day", col("ts"))).as("d"), col("user_id")).distinct())),
      ("rfm", () => RfmStore.rfm(spark, dirs("rfm")),
        () => Commerce.rfmFrom(src("orders").groupBy("o_custkey").agg(count(lit(1)).as("freq"),
          sum(cents).as("cents"), max("o_orderdate").as("last_o")))),
      ("basket_pairs", () => GraphEdgeStore.basketPairs(spark, dirs("graph_edge")),
        () => Commerce.basketPairsFrom(Baskets.pairs(Baskets.baskets(src("lineitem")), "part_a", "part_b")
          .groupBy("part_a", "part_b").agg(count(lit(1)).as("orders")))))
  }

  def apply(run: Run, corrupt: Boolean, setupReps: Int): Unit = {
    val spark = run.spark
    val dirs = new Dirs(run.work.getPath)
    val keys = Map("events" -> EvKeys, "orders" -> OrdKeys, "lineitem" -> LiKeys)
    val drainsOf = drains(run, dirs).toMap
    val foldsOf = folds(run, dirs).toMap
    val served = scala.collection.mutable.Map.empty[String, Seq[Row]]

    def src(f: String) = SnapshotStore.read(spark, dirs(s"src_$f"))
    def ins(feed: String, w: DataFrame) = feed -> (() =>
      Streams.cdcBatch(spark, dirs(s"src_$feed"), dirs(s"cdc_$feed"), w, keys(feed), Buckets))
    def del(feed: String, doomed: => DataFrame) = feed -> (() =>
      Streams.cdcDeleteBatch(spark, dirs(s"src_$feed"), dirs(s"cdc_$feed"), doomed.localCheckpoint(true), keys(feed)))

    /** The steps of cycle `c`, each one CDC commit to one feed: an events
      * version carrying an insert wave of held-back events and edits of a
      * slice of base events, then a GDPR delete wave (the lines of the
      * cycle's doomed customers' orders, those orders, and every event of
      * its doomed users; lines go first, as they are found through their
      * orders). Every store takes at least one version a cycle on top of
      * its base, so with [[FoldDepth]] 1 each folds every cycle. */
    def steps(d: Data, c: Int): Seq[(String, () => Unit)] = {
      val g = d.doomedIn(c)
      def doomedOrders = src("orders").filter(col("o_custkey") % Groups === g).select(col("o_orderkey").as("l_orderkey"))
      Seq(
        ins("events", d.evWaves(c).unionByName(d.evEdits(c))),
        del("lineitem", src("lineitem").join(doomedOrders, "l_orderkey").select(LiKeys.map(col): _*)),
        del("orders", doomedOrders.select(col("l_orderkey").as("o_orderkey"))),
        del("events", src("events").filter(col("user_id") % Groups === g).select("event_id")))
    }

    /** One cycle: each step commits, then the store its feed feeds drains
      * and folds when deep (the step's freshness); then every surface
      * serves, [[ServePasses]] times. */
    def cycle(d: Data, c: Int): Unit = {
      val t = run.tracer
      steps(d, c).foreach { case (feed, commit) =>
        val store = Consumers(feed)
        val cdc = dirs(s"cdc_$feed")
        run.attempt(s"cycle $c $feed") {
          val before = Streams.listCdcVersions(spark, cdc).toSet
          val startMs = System.currentTimeMillis()
          val (_, s) = run.timed {
            t.span("streaming.cdc_commit")(commit())
            t.span(s"streaming.drain.$store")(drainsOf(store)())
            t.span("streaming.fold") {
              val depth = VersionDrain.logDepth(spark, dirs(store), ActivityStore.BaseVer)
              if (t.active) run.countMax("streaming.log_depth_max", depth)
              if (depth > FoldDepth) foldsOf(store)()
            }
          }
          val added = (Streams.listCdcVersions(spark, cdc).toSet -- before).toSeq
          run.sample("load_s", s)
          run.count("load_time_s", s)
          run.count("load_rows", added.map(v => Run.parquetRows(new File(cdc, s"__version=$v"))).sum)
          if (t.active) {
            run.count("streaming.versions_drained", added.size)
            run.count("streaming.cdc_bytes", added.map(v => Run.bytesUnder(new File(cdc, s"__version=$v"))).sum)
            run.count("streaming.store_bytes_written", Run.bytesNewer(new File(dirs(store)), startMs))
          }
        }
      }
      for (_ <- 1 to ServePasses; (n, serve, _) <- surfaces(run, dirs)) {
        run.attempt(s"serve $n") {
          val (rows, s) = run.timed(t.span("streaming.serve")(serve().collect().toSeq))
          run.sample("query_ms", s * 1000)
          served(n) = rows
        }
      }
    }

    // set-up: generation, the source tables' base versions, and every
    // store built by draining them
    val d = run.setUp(setupReps)(generate(run))(_.digest)(setUp(run, _, dirs))
    run.count("input.rows", d.rows)
    run.count("input.bytes", Feeds.map(f => Run.bytesUnder(new File(dirs(s"src_$f")))).sum)
    var cycles = 0
    run.rounds { c =>
      require(c < InsertWaves, s"out of insert waves after $c cycles")
      cycle(d, c)
      cycles += 1
    }

    // correctness, outside the measured phase: the last served answer of
    // every surface against a live recompute over the source tables' net
    // rows, after the cycles' delete waves and the stores' folds
    run.check("every_store_folded")(foldsOf.keys.forall(st =>
      VersionDrain.readFoldedThrough(spark, dirs(st)).isDefined), "a store never folded")
    val erased = (0 until cycles).map(d.doomedIn)
    // with every surface equal to a live recompute over the sources,
    // erased subjects absent from the sources are absent from the stores
    run.check("gdpr_subjects_erased_from_sources")(
      src("events").filter((col("user_id") % Groups).isin(erased: _*)).isEmpty &&
        src("orders").filter((col("o_custkey") % Groups).isin(erased: _*)).isEmpty,
      "erased subjects still in the sources")
    surfaces(run, dirs).foreach { case (n, _, live) =>
      val got = served.getOrElse(n, Nil)
      val answer = if (corrupt && n == "rfm") got.drop(1) else got
      run.check(s"served_equals_live:$n")(served.contains(n) && Run.hashRows(answer) == Run.hash(live()), n)
    }
  }
}
