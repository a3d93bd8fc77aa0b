package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Customer-value analytics over `orders` — the commerce staples
  * (cohort lifetime value, RFM segmentation) that sit beside the
  * behavioral event family: same per-entity-then-summarize shape, but
  * the entity is the CUSTOMER and the value axis is money.
  *
  * Determinism stance: money is NEVER summed as doubles — `o_totalprice`
  * is scaled to integer cents up front (`round(x*100)::BIGINT`), every
  * aggregate runs in exact integer arithmetic, and division back to
  * currency happens once at the end, so both engines emit bit-identical
  * values in any aggregation order (the q_anomaly_zscore trick applied
  * to revenue).
  *
  * Scale stance: each key shuffles `orders` on `o_custkey` exactly once;
  * every later frame is customer-bounded or calendar-bounded
  * (months² / 4³ rows), and the quantile thresholds for RFM are a
  * one-row aggregate broadcast back — deliberately NOT an `ntile`
  * window, whose global ORDER BY would funnel the whole customer frame
  * through one task at 100 TB.
  */
object Commerce {

  /** Monthly cohort lifetime value: customers grouped by the month of
    * their first order; for each (cohort, month offset), the active
    * customers, that month's revenue, and the cohort's cumulative
    * revenue per founding customer — the LTV curve. Offsets are exact
    * integers (month-truncated dates on both engines); the cumulative
    * window runs over the months²-bounded summary, never the fact
    * table. */
  val qCohortLtv = Q(
    "q_cohort_ltv",
    """WITH o AS (SELECT o_custkey,
      |                  CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |           FROM orders),
      |f AS (SELECT o_custkey, min(m) AS cohort_month FROM o GROUP BY 1),
      |agg AS (SELECT f.cohort_month,
      |               CAST(date_diff('month', f.cohort_month, o.m) AS BIGINT)
      |                 AS month_offset,
      |               count(DISTINCT o.o_custkey) AS active_customers,
      |               sum(o.cents) AS cents
      |        FROM o JOIN f USING (o_custkey) GROUP BY 1, 2),
      |sizes AS (SELECT cohort_month, count(*) AS cohort_size FROM f GROUP BY 1)
      |SELECT strftime(a.cohort_month, '%Y-%m') AS cohort_month,
      |       a.month_offset, s.cohort_size, a.active_customers,
      |       round(CAST(a.cents AS DOUBLE) / 100.0, 2) AS revenue,
      |       -- 4dp half-up rounding of cum_cents/(100*size) in EXACT
      |       -- integer arithmetic — round(double, 4) diverges between
      |       -- engines when the true rational sits on the x.xxxx5 tie
      |       CAST((2 * sum(a.cents) OVER (PARTITION BY a.cohort_month
      |               ORDER BY a.month_offset ROWS UNBOUNDED PRECEDING) * 100
      |             + s.cohort_size) // (2 * s.cohort_size) AS DOUBLE) / 10000.0
      |         AS cum_ltv_per_user
      |FROM agg a JOIN sizes s USING (cohort_month)
      |ORDER BY cohort_month, month_offset""".stripMargin) { (s, d) =>
    cohortLtvFrom(Tables.orders(s, d).select(col("o_custkey"),
      col("o_orderdate").as("d"),
      round(col("o_totalprice") * 100, 0).cast("bigint").as("cents")))
  }

  /** The cohort-LTV computation over a caller-supplied activity-cell
    * frame (o_custkey, d, cents) — the seam the maintained order store
    * serves through ([[graft.streaming.RfmStore.cohortLtv]]). The live
    * key passes one row PER ORDER; the store passes its per-(customer,
    * day) artifact cells. Both yield the IDENTICAL output because every
    * downstream step commutes with the day-level pre-aggregation:
    * cohort month = month of min(d) (min commutes with month
    * truncation — the retention seam's argument verbatim), monthly
    * revenue is an additive cents sum, and month-activity is presence
    * of ANY live cell (count(DISTINCT custkey) ignores multiplicity). */
  def cohortLtvFrom(cells: DataFrame): DataFrame = {
    val o = cells.select(col("o_custkey"),
      to_date(date_trunc("month", col("d"))).as("m"),
      col("cents"))
    val f = o.groupBy("o_custkey").agg(min("m").as("cohort_month"))
    val agg = o.join(f, "o_custkey")
      .groupBy(col("cohort_month"),
        months_between(col("m"), col("cohort_month")).cast("bigint")
          .as("month_offset"))
      .agg(countDistinct("o_custkey").as("active_customers"),
        sum("cents").as("cents"))
    val sizes = f.groupBy("cohort_month").agg(count(lit(1)).as("cohort_size"))
    val w = Window.partitionBy("cohort_month").orderBy("month_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    agg.join(broadcast(sizes), "cohort_month")
      .withColumn("cum_cents", sum("cents").over(w))
      .select(date_format(col("cohort_month"), "yyyy-MM").as("cohort_month"),
        col("month_offset"), col("cohort_size"), col("active_customers"),
        round(col("cents").cast("double") / 100.0, 2).as("revenue"),
        // 4dp half-up rounding of cum_cents/(100*size) in EXACT integer
        // arithmetic (see the oracle comment): headroom needs
        // 200×cum_cents < 2^63 — cumulative revenue below ~4.6×10^14
        // dollars per cohort, far past any real corpus
        expr("CAST((2 * cum_cents * 100 + cohort_size) " +
          "DIV (2 * cohort_size) AS DOUBLE) / 10000.0")
          .as("cum_ltv_per_user"))
      .orderBy("cohort_month", "month_offset")
  }

  /** RFM segmentation: per customer, recency (days from last order to
    * the corpus' last order date), frequency (order count), monetary
    * (cents sum); each scored 1–4 against the exact quartiles of the
    * customer frame, then summarized per (r, f, m) cell. Quartile
    * thresholds interpolate on quarter positions over integers, so
    * both engines compute the identical double; scores are strict
    * threshold comparisons (recency: lower is better), so ties land
    * identically too. The threshold row is a global 1-row aggregate
    * cross-joined back (broadcast) — no global-ORDER ntile. */
  val qRfm = Q(
    "q_rfm",
    """WITH m AS (SELECT o_custkey, count(*) AS freq,
      |                  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
      |                  max(o_orderdate) AS last_o
      |           FROM orders GROUP BY 1),
      |mx AS (SELECT CAST(max(o_orderdate) AS DATE) AS hi FROM orders),
      |base AS (SELECT m.o_custkey,
      |                date_diff('day', CAST(m.last_o AS DATE), mx.hi) AS rec,
      |                m.freq, CAST(m.cents AS BIGINT) AS cents
      |         FROM m CROSS JOIN mx),
      |q AS (SELECT quantile_cont(rec, 0.25) AS r1, quantile_cont(rec, 0.5) AS r2,
      |             quantile_cont(rec, 0.75) AS r3,
      |             quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.5) AS f2,
      |             quantile_cont(freq, 0.75) AS f3,
      |             quantile_cont(cents, 0.25) AS m1, quantile_cont(cents, 0.5) AS m2,
      |             quantile_cont(cents, 0.75) AS m3
      |      FROM base),
      |s AS (SELECT CAST(1 + CASE WHEN rec < r3 THEN 1 ELSE 0 END
      |                    + CASE WHEN rec < r2 THEN 1 ELSE 0 END
      |                    + CASE WHEN rec < r1 THEN 1 ELSE 0 END AS BIGINT)
      |               AS r_score,
      |             CAST(1 + CASE WHEN freq > f1 THEN 1 ELSE 0 END
      |                    + CASE WHEN freq > f2 THEN 1 ELSE 0 END
      |                    + CASE WHEN freq > f3 THEN 1 ELSE 0 END AS BIGINT)
      |               AS f_score,
      |             CAST(1 + CASE WHEN cents > m1 THEN 1 ELSE 0 END
      |                    + CASE WHEN cents > m2 THEN 1 ELSE 0 END
      |                    + CASE WHEN cents > m3 THEN 1 ELSE 0 END AS BIGINT)
      |               AS m_score,
      |             cents
      |      FROM base CROSS JOIN q)
      |SELECT r_score, f_score, m_score, count(*) AS customers,
      |       -- 4dp half-up rounding of cents/(100*n) in exact integer
      |       -- arithmetic (same tie hazard as q_cohort_ltv)
      |       CAST((2 * sum(cents) * 100 + count(*)) // (2 * count(*))
      |            AS DOUBLE) / 10000.0 AS avg_spend
      |FROM s GROUP BY 1, 2, 3
      |ORDER BY r_score, f_score, m_score""".stripMargin) { (s, d) =>
    // ONE scan + one o_custkey shuffle builds the per-customer frame;
    // checkpoint it because its two consumers (the quartile aggregate
    // and the scoring pass) would otherwise each re-execute the
    // scan+shuffle subtree (Catalyst doesn't CTE-dedup DataFrame
    // branches). The store-served path skips the checkpoint: a store
    // log of at most 256 KB reads as one partition (SignedCells.readLog),
    // so each consumer re-sums the artifact-sized log inside its own
    // stage, and a checkpoint would add a job to a 2-job serve.
    rfmFrom(Tables.orders(s, d).groupBy("o_custkey").agg(
      count(lit(1)).as("freq"),
      sum(round(col("o_totalprice") * 100, 0).cast("bigint")).as("cents"),
      max("o_orderdate").as("last_o"))
      .localCheckpoint(true))
  }

  /** The RFM quartile-scoring computation over a caller-supplied
    * per-customer frame (o_custkey, freq, cents, last_o) — the seam
    * the maintained order-activity store serves through
    * ([[graft.streaming.RfmStore]]): the live key derives the frame
    * from the order log; the store derives the identical frame from
    * its customers×active-days artifact (freq/cents are additive sums,
    * recency is max over days with positive net count — delete-safe). */
  def rfmFrom(m: DataFrame): DataFrame = {
    // recency scores on -(epoch day of the last order): days since the
    // corpus' last order shifted by that constant, so no max-date probe.
    // Quartiles interpolate on quarter positions over integer days (the
    // doubles are exact), and the scores are strict comparisons, so
    // both are exactly shift-invariant
    val base = m.select(col("o_custkey"),
      (-unix_date(to_date(col("last_o")))).cast("bigint").as("rec"),
      col("freq"), col("cents"))
    val q = base.agg(
      percentile(col("rec"), lit(0.25)).as("r1"),
      percentile(col("rec"), lit(0.5)).as("r2"),
      percentile(col("rec"), lit(0.75)).as("r3"),
      percentile(col("freq"), lit(0.25)).as("f1"),
      percentile(col("freq"), lit(0.5)).as("f2"),
      percentile(col("freq"), lit(0.75)).as("f3"),
      percentile(col("cents"), lit(0.25)).as("m1"),
      percentile(col("cents"), lit(0.5)).as("m2"),
      percentile(col("cents"), lit(0.75)).as("m3"))
    def score(v: String, lo: String, mid: String, hi: String,
        lowerIsBetter: Boolean) = {
      def hit(t: String) =
        when(if (lowerIsBetter) col(v) < col(t) else col(v) > col(t), 1)
          .otherwise(0)
      (lit(1) + (if (lowerIsBetter) hit(hi) + hit(mid) + hit(lo)
                 else hit(lo) + hit(mid) + hit(hi))).cast("bigint")
    }
    base.crossJoin(broadcast(q))
      .select(score("rec", "r1", "r2", "r3", lowerIsBetter = true).as("r_score"),
        score("freq", "f1", "f2", "f3", lowerIsBetter = false).as("f_score"),
        score("cents", "m1", "m2", "m3", lowerIsBetter = false).as("m_score"),
        col("cents"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("customers"), sum("cents").as("cents"))
      .select(col("r_score"), col("f_score"), col("m_score"),
        col("customers"),
        // exact-integer 4dp half-up rounding (see the oracle comment)
        expr("CAST((2 * cents * 100 + customers) DIV (2 * customers) " +
          "AS DOUBLE) / 10000.0").as("avg_spend"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Market-basket co-occurrence: the top-20 part pairs bought together
    * in one order, with each pair's order count. Pair generation is ONE
    * orderkey-keyed collect_set (each order's basket as a sorted array)
    * followed by a MAP-SIDE pair expansion with array higher-order
    * functions — fan-out per order is basket-size-bounded (k² for a
    * k-item basket; 13 distinct parts max in the driver's book). Versus
    * the naive self-join formulation this halves the lineitem scans and
    * replaces the join's two data-sized exchanges with one (the basket
    * agg combines map-side; a hot order stays ONE aggregation cell).
    * The pair count agg is data-bounded and the top-20 fuses to
    * TakeOrderedAndProject (per-partition heaps + a 20-row driver
    * merge, no global sort). The oracle keeps the self-join
    * formulation — an independent derivation of the same pair
    * multiset. */
  val qBasketPairs = Q(
    "q_basket_pairs",
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2),
      |pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |                 count(*) AS orders
      |          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |                             AND a.l_partkey < b.l_partkey
      |          GROUP BY 1, 2)
      |SELECT part_a, part_b, orders FROM pairs
      |ORDER BY orders DESC, part_a, part_b LIMIT 20""".stripMargin) { (s, d) =>
    basketPairsFrom(
      Baskets.pairs(Baskets.baskets(Tables.lineitem(s, d)), "part_a", "part_b")
        .groupBy("part_a", "part_b").agg(count(lit(1)).as("orders")))
  }

  /** Top-20 ranking over a caller-supplied aggregated pair-support
    * frame (part_a, part_b, orders) — the seam the maintained
    * co-purchase edge store serves through
    * ([[graft.streaming.GraphEdgeStore.basketPairs]]): the live key
    * aggregates the map-side basket expansion; the store's edge weight
    * w IS "orders containing both parts" (same whole-basket derivation,
    * maintained), so both frames are identical and so is the ranking.
    * Integer supports + the (part_a, part_b) tie-break make the cutoff
    * deterministic. */
  def basketPairsFrom(pairs: DataFrame): DataFrame =
    pairs.orderBy(col("orders").desc, col("part_a"), col("part_b"))
      .limit(20)

  /** Association rules over the co-purchase baskets: support counts,
    * directed confidence and lift for every part pair co-purchased in
    * ≥ 2 orders (the 1-count tail is noise — ~99.7% of distinct pairs
    * at sf0.1 — and admitting it would rank pure rarity), top-20 by
    * lift. The basket frame is aggregated ONCE (checkpointed) and
    * feeds all three statistics: pair counts via the map-side pair
    * expansion (q_basket_pairs formulation), item order-counts via a
    * basket explode, and the order total as a 1-row cross join — so
    * lineitem is scanned exactly once. Confidence and lift are
    * exact-integer 4dp half-up ((2a+b) DIV 2b — the LTV rounding
    * trick), never a double divide: overflow headroom is
    * 2·both·N·10⁴ < 2⁶³, i.e. both·N < 4.6e14 — at 100× this corpus
    * (N≈15M) pairs can co-occur 3e7 times before the scale
    * denominator must grow. Joins after the pair agg are
    * vocabulary-sized (20k item counts) and broadcast. */
  val qBasketLift = Q(
    "q_basket_lift",
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2),
      |n AS (SELECT count(DISTINCT l_orderkey) AS n FROM li),
      |item AS (SELECT l_partkey, count(*) AS cnt FROM li GROUP BY 1),
      |pairs AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |                 count(*) AS both_orders
      |          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |                             AND a.l_partkey < b.l_partkey
      |          GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT part_a, part_b, both_orders,
      |       CAST((2 * both_orders * 10000 * (SELECT n FROM n)
      |             + ia.cnt * ib.cnt)
      |            // (2 * ia.cnt * ib.cnt) AS DOUBLE) / 10000.0 AS lift,
      |       CAST((2 * both_orders * 10000 + ia.cnt) // (2 * ia.cnt)
      |            AS DOUBLE) / 10000.0 AS conf_a_to_b
      |FROM pairs JOIN item ia ON ia.l_partkey = part_a
      |           JOIN item ib ON ib.l_partkey = part_b
      |ORDER BY lift DESC, part_a, part_b LIMIT 20""".stripMargin) { (s, d) =>
    val baskets = Baskets.baskets(Tables.lineitem(s, d)).localCheckpoint(true)
    val pairs = Baskets.pairs(baskets, "part_a", "part_b")
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("both_orders"))
    val item = baskets.select(explode(col("basket")).as("part"))
      .groupBy("part").agg(count(lit(1)).as("cnt"))
    val n = baskets.agg(count(lit(1)).as("n"))
    basketLiftFrom(pairs, item, n)
  }

  /** The association-rule computation over caller-supplied support
    * frames — the seam the maintained co-purchase artifacts serve
    * through ([[graft.streaming.GraphEdgeStore.basketLift]]): `pairs`
    * (part_a, part_b, both_orders) from the edge store or the live
    * basket expansion, `item` (part, cnt = orders containing the part)
    * from the counts store or a basket explode, `n` a 1-row corpus
    * order count from the order-count store or a basket count. All
    * three stats are order-level counts over whole baskets, so the
    * maintained and live frames are identical and the exact-integer
    * 4dp lift/confidence downstream is too. */
  def basketLiftFrom(pairs: DataFrame, item: DataFrame,
      n: DataFrame): DataFrame =
    pairs.where(col("both_orders") >= 2)
      .join(item.select(col("part").as("part_a"), col("cnt").as("ca")), "part_a")
      .join(item.select(col("part").as("part_b"), col("cnt").as("cb")), "part_b")
      .crossJoin(n)
      .select(col("part_a"), col("part_b"), col("both_orders"),
        expr("CAST((2 * both_orders * 10000 * n + ca * cb) DIV " +
          "(2 * ca * cb) AS DOUBLE) / 10000.0").as("lift"),
        expr("CAST((2 * both_orders * 10000 + ca) DIV (2 * ca) " +
          "AS DOUBLE) / 10000.0").as("conf_a_to_b"))
      .orderBy(col("lift").desc, col("part_a"), col("part_b"))
      .limit(20)

  /** Repeat-purchase cadence: one summary row over the gaps (in days)
    * between a customer's consecutive orders — repeat customers, gap
    * count, exact p50/p90, and the mean gap (exact-integer 4dp half-up
    * rounding, same engine-portability trick as the LTV divide). One
    * custkey-partitioned lag() window (ties broken by o_orderkey), then
    * a single global aggregate over the integer gaps. */
  val qRepeatPurchase = Q(
    "q_repeat_purchase",
    """WITH g AS (SELECT o_custkey,
      |                  date_diff('day',
      |                    CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
      |                           ORDER BY o_orderdate, o_orderkey) AS DATE),
      |                    CAST(o_orderdate AS DATE)) AS gap_days
      |           FROM orders),
      |gg AS (SELECT o_custkey, CAST(gap_days AS BIGINT) AS gap_days FROM g
      |       WHERE gap_days IS NOT NULL)
      |SELECT count(DISTINCT o_custkey) AS repeat_customers,
      |       count(*) AS gaps,
      |       round(quantile_cont(gap_days, 0.5), 4) AS p50_gap_days,
      |       round(quantile_cont(gap_days, 0.9), 4) AS p90_gap_days,
      |       CAST((2 * sum(gap_days) * 10000 + count(*)) // (2 * count(*))
      |            AS DOUBLE) / 10000.0 AS avg_gap_days
      |FROM gg""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val gg = Tables.orders(s, d)
      .select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")),
          to_date(lag("o_orderdate", 1).over(w))).cast("bigint").as("gap_days"))
      .filter(col("gap_days").isNotNull)
    gg.agg(countDistinct("o_custkey").as("repeat_customers"),
        count(lit(1)).as("gaps"),
        round(percentile(col("gap_days"), lit(0.5)), 4).as("p50_gap_days"),
        round(percentile(col("gap_days"), lit(0.9)), 4).as("p90_gap_days"),
        sum("gap_days").as("sum_days"))
      .select(col("repeat_customers"), col("gaps"),
        col("p50_gap_days"), col("p90_gap_days"),
        // exact-integer 4dp half-up mean: deterministic on both engines
        expr("CAST((2 * sum_days * 10000 + gaps) DIV (2 * gaps) " +
          "AS DOUBLE) / 10000.0").as("avg_gap_days"))
  }

  /** Top weekly movers: the 20 (part, week) cells with the highest
    * week-over-week revenue growth vs the part's previous OBSERVED
    * week. Revenue is summed in integer cents (the family's money
    * stance — never a double sum), growth is an exact-integer 4dp
    * half-up ratio, and the `prev ≥ 10000` floor ($100) keeps tiny
    * denominators from dominating the ranking. Scale: the weekly cell
    * frame is vocabulary × calendar bounded; the lag window partitions
    * by part (no global window), and the top-20 fuses to
    * TakeOrderedAndProject. */
  val qTrending = Q(
    "q_trending",
    """WITH wk AS (SELECT l_partkey,
      |                   CAST(date_trunc('week', l_shipdate) AS DATE) AS w,
      |                   sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |                     AS cents
      |            FROM lineitem GROUP BY 1, 2),
      |g AS (SELECT l_partkey, w, cents,
      |             lag(cents) OVER (PARTITION BY l_partkey ORDER BY w) AS prev
      |      FROM wk)
      |SELECT l_partkey, strftime(w, '%Y-%m-%d') AS week,
      |       round(cents / 100.0, 2) AS revenue,
      |       CAST((20000 * cents + prev) // (2 * prev) AS BIGINT) AS growth_4dp
      |FROM g WHERE prev >= 10000
      |ORDER BY growth_4dp DESC, l_partkey, week LIMIT 20""".stripMargin) {
    (s, d) =>
    val wk = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"),
        date_trunc("week", col("l_shipdate")).cast("date").as("w"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("bigint"))
        .as("cents"))
    val win = Window.partitionBy("l_partkey").orderBy("w")
    wk.withColumn("prev", lag("cents", 1).over(win))
      .filter(col("prev") >= 10000L)
      .select(col("l_partkey"),
        date_format(col("w"), "yyyy-MM-dd").as("week"),
        round(col("cents").cast("double") / 100.0, 2).as("revenue"),
        expr("(20000 * cents + prev) DIV (2 * prev)").as("growth_4dp"))
      .orderBy(col("growth_4dp").desc, col("l_partkey"), col("week"))
      .limit(20)
  }

  /** Acquisition-channel revenue — the cross-domain key joining the
    * behavioral log to the order book: each user's acquisition channel
    * is their FIRST event's type (min_by over (ts, event_id) — one
    * map-side-combined hash agg, the q_attribution pick, no window
    * sort), and the channel report rolls up the users' order counts
    * and integer-cents revenue. Scale: the channel map is
    * user-vocabulary-sized and the order rollup customer-sized — the
    * join is between two bounded aggregates (AQE broadcasts the
    * smaller), the event log and order book are each scanned ONCE,
    * and the output is channel-vocabulary-bounded. Left join keeps
    * channels whose users never purchased (buyers/orders = 0). */
  val qChannelRevenue = Q(
    "q_channel_revenue",
    """WITH ft AS (
      |  SELECT user_id, event_type FROM (
      |    SELECT user_id, event_type,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY date_trunc('microseconds', ts), event_id) AS rn
      |    FROM events) WHERE rn = 1),
      |o AS (SELECT o_custkey, count(*) AS n_orders,
      |             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      |      FROM orders GROUP BY 1)
      |SELECT ft.event_type AS channel,
      |       count(*) AS users,
      |       count(o.o_custkey) AS buyers,
      |       CAST(coalesce(sum(o.n_orders), 0) AS BIGINT) AS orders,
      |       round(coalesce(sum(o.cents), 0) / 100.0, 2) AS revenue
      |FROM ft LEFT JOIN o ON o.o_custkey = ft.user_id
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val ft = Tables.events(s, d).groupBy("user_id")
      .agg(min_by(col("event_type"), struct(col("ts"), col("event_id")))
        .as("channel"))
    val o = Tables.orders(s, d).groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100, 0).cast("bigint")).as("cents"))
    ft.join(o, ft("user_id") === o("o_custkey"), "left")
      .groupBy("channel").agg(
        count(lit(1)).as("users"),
        count(col("o_custkey")).as("buyers"),
        coalesce(sum("n_orders"), lit(0L)).as("orders"),
        round(coalesce(sum("cents"), lit(0L)).cast("double") / 100.0, 2)
          .as("revenue"))
      .orderBy("channel")
  }

  val all: Seq[Q] =
    Seq(qCohortLtv, qRfm, qBasketPairs, qBasketLift, qRepeatPurchase,
      qTrending, qChannelRevenue)
}
