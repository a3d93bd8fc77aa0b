package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavioral event analytics over `events` — the product-analytics
  * staples (ordered funnels, cohort retention, time-series
  * regularization) that sit one layer above the raw windowed aggregates
  * in TimeWindows: same table, but the unit of analysis is the USER (or
  * the series), not the event.
  *
  * Scale stance: every key shuffles on its analysis key (user_id /
  * series) exactly once per logical pass, with event-type filters
  * pushed into the scan; the cohort and funnel summary frames are
  * calendar- or step-bounded (days² / K rows), never corpus-sized, so
  * the small derived joins stay broadcastable at any SF.
  */
object EventAnalytics {

  /** The ONE 30-minute gaps-and-islands sessionizer definition, as the
    * DuckDB CTE pair every sessionizing oracle shares (q_session_stats,
    * q_event_paths): a session breaks when the gap STRICTLY exceeds 30
    * minutes; order within a user is (ts, event_id). Timestamps are
    * micros-truncated up front — the repo-wide determinism contract
    * (Q.scala): Spark reads the nanos-vintage parquet at micros, so the
    * oracle must rank ties and compare gaps at the same precision or
    * the engines diverge on sub-microsecond data (the q_event_transitions
    * hazard). `carried` names extra event columns to keep on the rows
    * (e.g. ", event_type"). */
  private def sessionCtesSql(carried: String): String =
    s"""flagged AS (
       |  SELECT user_id, date_trunc('microseconds', ts) AS ts,
       |         event_id$carried,
       |         CASE WHEN date_trunc('microseconds', ts)
       |                   - lag(date_trunc('microseconds', ts)) OVER w
       |                   > INTERVAL '30 minutes'
       |              OR lag(ts) OVER w IS NULL
       |              THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id
       |               ORDER BY date_trunc('microseconds', ts), event_id)),
       |numbered AS (
       |  SELECT user_id, ts, event_id$carried,
       |         sum(new_session) OVER (PARTITION BY user_id
       |                                ORDER BY ts, event_id
       |                                ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM flagged)""".stripMargin

  /** DataFrame twin of [[sessionCtesSql]]: appends `session_id` per
    * (user, 30-min gaps-and-islands session). Spark's `ts` is already
    * micros (Tables.events normalizes both parquet vintages), so no
    * truncation is needed on this side. */
  private def sessionized(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val lagTs = lag(col("ts"), 1).over(wUser)
    ev.withColumn("new_session",
        when(lagTs.isNull ||
          col("ts") - lagTs > expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
      .withColumn("session_id",
        sum("new_session").over(wUser.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      .drop("new_session")
  }

  /** Windowed ordered funnel view → click → purchase: each step must
    * happen strictly after the previous step's time and within 24 h of
    * it (the deadline is what keeps a long log from saturating the
    * funnel — see operators/Funnel). */
  val qFunnel = Q(
    "q_funnel",
    """WITH v AS (SELECT user_id, min(ts) AS t FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click'
      |        AND e.ts > v.t AND e.ts <= v.t + INTERVAL 24 HOUR GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase'
      |        AND e.ts > c.t AND e.ts <= c.t + INTERVAL 24 HOUR GROUP BY 1),
      |steps AS (
      |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
      |         count(*) AS users FROM v
      |  UNION ALL SELECT 2, 'click', count(*) FROM c
      |  UNION ALL SELECT 3, 'purchase', count(*) FROM p)
      |SELECT step, event_type, users,
      |       CASE WHEN first_value(users) OVER w > 0 THEN
      |         round(CAST(users AS DOUBLE) / first_value(users) OVER w, 4)
      |       END AS conversion
      |FROM steps
      |WINDOW w AS (ORDER BY step
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY step""".stripMargin) { (s, d) =>
    // measured-crossover dispatch (round-14): the corpus' 3-of-5 step
    // coverage takes the one-scan plan, a hot-user log stays K-scan —
    // either way the output is the pinned K-scan hash
    // (q_gate_funnel_dispatch re-proves equality across forced paths)
    graft.operators.Funnel.runAuto(Tables.events(s, d),
      Seq("view", "click", "purchase"), maxGap = "24 hours")
  }

  /** Step-latency percentiles for the same funnel: p50/p90 seconds from
    * the previous step's time to conversion, per step ≥ 2 — rides the
    * identical frontier frames as q_funnel (the prev-step time is
    * carried on the frontier row), so the report costs no extra scan. */
  val qFunnelLatency = Q(
    "q_funnel_latency",
    """WITH v AS (SELECT user_id, min(ts) AS t FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.ts) AS t, v.t AS pt
      |      FROM events e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click'
      |        AND e.ts > v.t AND e.ts <= v.t + INTERVAL 24 HOUR
      |      GROUP BY e.user_id, v.t),
      |p AS (SELECT e.user_id, min(e.ts) AS t, c.t AS pt
      |      FROM events e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase'
      |        AND e.ts > c.t AND e.ts <= c.t + INTERVAL 24 HOUR
      |      GROUP BY e.user_id, c.t),
      |l2 AS (SELECT date_diff('second', pt, t) AS d FROM c),
      |l3 AS (SELECT date_diff('second', pt, t) AS d FROM p)
      |SELECT * FROM (
      |  SELECT CAST(2 AS BIGINT) AS step, 'click' AS event_type,
      |         count(*) AS users,
      |         round(quantile_cont(d, 0.5), 4) AS p50_sec,
      |         round(quantile_cont(d, 0.9), 4) AS p90_sec FROM l2
      |  UNION ALL
      |  SELECT 3, 'purchase', count(*),
      |         round(quantile_cont(d, 0.5), 4),
      |         round(quantile_cont(d, 0.9), 4) FROM l3)
      |ORDER BY step""".stripMargin) { (s, d) =>
    graft.operators.Funnel.latency(Tables.events(s, d),
      Seq("view", "click", "purchase"), maxGap = "24 hours")
  }

  /** Any-order funnel over the same steps: entry is the user's first
    * event of ANY step, a step is reached if its first occurrence falls
    * within 24 h of entry, step k counts users reaching ≥ k distinct
    * steps (see operators/Funnel.runUnordered for the scale shape). */
  val qFunnelUnordered = Q(
    "q_funnel_unordered",
    """WITH m AS (SELECT user_id, event_type, min(ts) AS t FROM events
      |           WHERE event_type IN ('view', 'click', 'purchase')
      |           GROUP BY 1, 2),
      |e AS (SELECT user_id, min(t) AS t0 FROM m GROUP BY 1),
      |r AS (SELECT m.user_id, count(*) AS k FROM m JOIN e USING (user_id)
      |      WHERE m.t <= e.t0 + INTERVAL 24 HOUR GROUP BY 1),
      |s AS (SELECT CAST(x AS BIGINT) AS step
      |      FROM (VALUES (1), (2), (3)) AS t(x)),
      |c AS (SELECT s.step, count(r.user_id) AS users
      |      FROM s LEFT JOIN r ON r.k >= s.step GROUP BY 1)
      |SELECT step, users,
      |       CASE WHEN first_value(users) OVER w > 0 THEN
      |         round(CAST(users AS DOUBLE) / first_value(users) OVER w, 4)
      |       END AS conversion
      |FROM c
      |WINDOW w AS (ORDER BY step
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY step""".stripMargin) { (s, d) =>
    graft.operators.Funnel.runUnordered(Tables.events(s, d),
      Seq("view", "click", "purchase"), maxGap = "24 hours")
  }

  /** Daily cohort retention over a caller-supplied DISTINCT (d,
    * user_id) activity frame — the second consumer of the activity
    * seam (see [[activeUsersFrom]]): cohort day = each user's first
    * active day, and since day-truncation commutes with min, the pair
    * frame determines it exactly. Pairs are unique, so the
    * (cohort, offset, user) projection needs no re-distinct. */
  def retentionCohortFrom(act: DataFrame): DataFrame = {
    val first = act.groupBy("user_id").agg(min("d").as("cohort_day"))
    val actOff = act.join(first, "user_id")
      .select(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).cast("bigint").as("day_offset"),
        col("user_id"))
    val counts = actOff.groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("users"))
    val sizes = counts.filter(col("day_offset") === 0)
      .select(col("cohort_day"), col("users").as("cohort_size"))
    counts.join(broadcast(sizes), "cohort_day")
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("users"),
        round(col("users").cast("double") / col("cohort_size"), 4)
          .as("retention"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Weekly cohort retention + cross-cohort curve over the same
    * activity frame: a user's several active days inside one week
    * collapse, so this projection DOES re-distinct at week grain. */
  def retentionWeeklyFrom(act: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val first = act.groupBy("user_id")
      .agg(to_date(date_trunc("week", min("d"))).as("cohort_week"))
    val actW = act.join(first, "user_id")
      .select(col("cohort_week"),
        (datediff(to_date(date_trunc("week", col("d"))), col("cohort_week"))
          / 7).cast("bigint").as("week_offset"),
        col("user_id"))
      .distinct()
    val counts = actW.groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("users"))
    val sizes = counts.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("users").as("cohort_size"))
    val wOff = Window.partitionBy("week_offset")
    counts.join(broadcast(sizes), "cohort_week")
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("users"),
        round(col("users").cast("double") / col("cohort_size"), 4)
          .as("retention"),
        round(sum("users").over(wOff).cast("double")
          / sum("cohort_size").over(wOff), 4).as("curve_retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** The day-grain distinct activity frame the three seam consumers
    * share — what the live keys derive from the event log and the
    * activity store serves from its artifact. */
  private[graft] def activityOf(events: DataFrame): DataFrame =
    events.select(to_date(date_trunc("day", col("ts"))).as("d"),
      col("user_id")).distinct()

  /** Daily cohort retention: users grouped by the day of their first
    * event; for each (cohort, day offset), how many came back, and what
    * share of the cohort that is. The cohort×offset summary is bounded
    * by calendar days squared — the cohort-size join is over that tiny
    * frame, never the log. */
  val qRetentionCohort = Q(
    "q_retention_cohort",
    """WITH first AS (
      |  SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS cohort_day
      |  FROM events GROUP BY 1),
      |act AS (
      |  SELECT DISTINCT f.cohort_day,
      |         date_diff('day', f.cohort_day,
      |                   CAST(date_trunc('day', e.ts) AS DATE)) AS day_offset,
      |         e.user_id
      |  FROM events e JOIN first f USING (user_id)),
      |counts AS (SELECT cohort_day, day_offset, count(*) AS users
      |           FROM act GROUP BY 1, 2),
      |sizes AS (SELECT cohort_day, users AS cohort_size FROM counts
      |          WHERE day_offset = 0)
      |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
      |       CAST(c.day_offset AS BIGINT) AS day_offset, c.users,
      |       round(CAST(c.users AS DOUBLE) / s.cohort_size, 4) AS retention
      |FROM counts c JOIN sizes s USING (cohort_day)
      |ORDER BY cohort_day, day_offset""".stripMargin) { (s, d) =>
    retentionCohortFrom(activityOf(Tables.events(s, d)))
  }

  /** Weekly cohort retention + retention-curve summary: q_retention_cohort
    * at week grain, with the cross-cohort curve alongside each row —
    * curve_retention at offset w = Σ active users / Σ cohort sizes over
    * the cohorts observed at that offset (integer sums then ONE divide,
    * so the double is engine-portable; an avg-of-ratios would sum
    * doubles in engine-dependent order). Frame sizes: weeks² rows. */
  val qRetentionWeekly = Q(
    "q_retention_weekly",
    """WITH first AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      |  FROM events GROUP BY 1),
      |act AS (
      |  SELECT DISTINCT f.cohort_week,
      |         CAST(date_diff('day', f.cohort_week,
      |                CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT)
      |           AS week_offset,
      |         e.user_id
      |  FROM events e JOIN first f USING (user_id)),
      |counts AS (SELECT cohort_week, week_offset, count(*) AS users
      |           FROM act GROUP BY 1, 2),
      |sizes AS (SELECT cohort_week, users AS cohort_size FROM counts
      |          WHERE week_offset = 0)
      |SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
      |       c.week_offset, c.users,
      |       round(CAST(c.users AS DOUBLE) / s.cohort_size, 4) AS retention,
      |       round(CAST(sum(c.users) OVER (PARTITION BY c.week_offset) AS DOUBLE)
      |         / sum(s.cohort_size) OVER (PARTITION BY c.week_offset), 4)
      |         AS curve_retention
      |FROM counts c JOIN sizes s USING (cohort_week)
      |ORDER BY cohort_week, week_offset""".stripMargin) { (s, d) =>
    retentionWeeklyFrom(activityOf(Tables.events(s, d)))
  }

  /** DAU / rolling-7-day WAU / stickiness per day. The scale problem is
    * the ROLLING DISTINCT: "users active in [d−6, d]" is not
    * decomposable over a window (distinct doesn't sum), and the naive
    * day×day self-join rescans the activity frame 7×. Instead each
    * (user, day) activity CONTRIBUTES itself to the 7 windows ending at
    * day..day+6 — a bounded ×7 `explode` on the already user-deduped
    * daily frame, then one (window-end, user) aggregate and one count
    * per window end, which yields DAU and WAU together. Map-side
    * bounded fan-out beats a self-join at any corpus size. Only window
    * ends that are activity days are reported, so every reported day
    * has a fully defined (possibly partial-history) WAU. Stickiness =
    * DAU/WAU — the engagement ratio product analytics reads daily. */
  /** The DAU / rolling-WAU / stickiness computation over a
    * caller-supplied DISTINCT (d, user_id) activity frame — the seam
    * the maintained activity store serves through (the
    * `Graphs.pagerankFrom` pattern, round 17): the live key derives
    * the frame from the event log; `ActivityStore.activity` derives
    * the identical frame from its user×day-sized artifact, so the two
    * reads share every expression from here down. */
  def activeUsersFrom(act: DataFrame): DataFrame =
    // one pass: each activity feeds the 7 window-ends d..d+6 it is
    // visible from, flagged where the window ends on the activity day
    // itself; per (window-end, user) the flag's max says "active that
    // day", so per window-end the row count is WAU and the flag count
    // DAU. A window-end with DAU 0 is not an activity day and drops,
    // so every kept day lies inside the observed range with no clip.
    // (`transform` over offsets, not `sequence(d, d + 6)`, so the day
    // column keeps the input's nullability.)
    act.select(col("d"), col("user_id"),
        explode(transform(sequence(lit(0), lit(6)),
          i => date_add(col("d"), i))).as("wend"))
      .groupBy("wend", "user_id")
      .agg(max(col("wend") === col("d")).as("today"))
      .groupBy("wend")
      .agg(count(when(col("today"), 1)).as("dau"), count(lit(1)).as("wau"))
      .filter(col("dau") > 0L)
      .select(date_format(col("wend"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 4).as("stickiness"))
      .orderBy("day")

  val qActiveUsers = Q(
    "q_active_users",
    """WITH act AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d,
      |                             user_id
      |             FROM events),
      |bounds AS (SELECT max(d) AS hi FROM act),
      |dau AS (SELECT d, count(*) AS dau FROM act GROUP BY 1),
      |contrib AS (
      |  SELECT DISTINCT w.wend, a.user_id
      |  FROM act a CROSS JOIN bounds b
      |  JOIN LATERAL (SELECT unnest(generate_series(a.d, least(a.d + 6, b.hi),
      |                              INTERVAL 1 DAY)) AS wend) w ON true),
      |wau AS (SELECT CAST(wend AS DATE) AS d, count(*) AS wau
      |        FROM contrib GROUP BY 1)
      |SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau,
      |       round(CAST(dau.dau AS DOUBLE) / wau.wau, 4) AS stickiness
      |FROM dau JOIN wau ON dau.d = wau.d
      |ORDER BY day""".stripMargin) { (s, d) =>
    activeUsersFrom(activityOf(Tables.events(s, d)))
  }

  /** The sketch path for q_active_users at 100 TB: per-day HyperLogLog
    * sketches of the user set (map-side mergeable — the daily state is
    * a fixed-size sketch, never a user set, so the scan needs NO
    * (user, day) distinct shuffle at all), rolled up with the same
    * ≤7-way contribution expansion but over SKETCHES (days × 7 tiny
    * rows) and merged via hll_union_agg. Estimates are engine-specific
    * (DataSketches HLL, lgConfigK=12 → ~1.6% relative standard error),
    * so the key is rows-only with `q_gate_active_users_sketch` pinning
    * the estimates against the exact twin. */
  val qActiveUsersSketch = Q.noOracle("q_active_users_sketch") { (s, d) =>
    val act = Tables.events(s, d)
      .select(to_date(date_trunc("day", col("ts"))).as("d"), col("user_id"))
    val daily = act.groupBy("d")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .localCheckpoint(true) // reused by the DAU estimate and the rollup
    val hiRow = daily.agg(max("d")).head()
    val dauEst = daily.select(col("d"),
      round(hll_sketch_estimate(col("sk")), 0).cast("bigint").as("dau_est"))
    if (hiRow.isNullAt(0))
      // empty log → empty summary under the output schema
      dauEst.select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("dau_est"), col("dau_est").as("wau_est")).limit(0)
    else {
      val hi = hiRow.getDate(0)
      val contrib = daily.select(
        explode(sequence(col("d"),
          least(date_add(col("d"), 6), lit(hi)))).as("d"), col("sk"))
      val wau = contrib.groupBy("d")
        .agg(round(hll_sketch_estimate(hll_union_agg(col("sk"))), 0)
          .cast("bigint").as("wau_est"))
      dauEst.join(wau, "d")
        .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
          col("dau_est"), col("wau_est"))
        .orderBy("day")
    }
  }

  /** Next-event transition counts — the Markov/path-analysis staple:
    * per user in timestamp order, count (event_type → next event_type)
    * pairs, with per-source transition shares. One user-partitioned
    * lead() window (the sessionizer's shuffle grain; a hot user is one
    * partition's sort, never a cross product), then a types² hash agg —
    * the output is vocabulary-bounded, never event-bounded. Ties on
    * (user, ts) are broken by event_id so the "next" event is total-
    * ordered and engine-portable. */
  val qEventTransitions = Q(
    "q_event_transitions",
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         -- ts truncated to MICROS: Spark reads the ns parquet ts
      |         -- at micros precision, so the engines must rank ties
      |         -- identically before event_id breaks them
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY date_trunc('microseconds', ts),
      |                                         event_id) AS next_type
      |  FROM events),
      |t AS (SELECT event_type, next_type, count(*) AS n FROM seq
      |      WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, next_type, n,
      |       round(CAST(n AS DOUBLE)
      |         / sum(n) OVER (PARTITION BY event_type), 4) AS share
      |FROM t ORDER BY event_type, next_type""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val wNext = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val seq = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        lead("event_type", 1).over(wNext).as("next_type"))
    val t = seq.filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type").agg(count(lit(1)).as("n"))
    val wSrc = Window.partitionBy("event_type")
    t.select(col("event_type"), col("next_type"), col("n"),
        round(col("n").cast("double") / sum("n").over(wSrc), 4).as("share"))
      .orderBy("event_type", "next_type")
  }

  /** Top session-opening paths — "how do sessions start?": sessionize
    * (same 30-minute gaps-and-islands the engagement summary uses),
    * take each session's first ≤3 events in (ts, event_id) order, join
    * them into a `view>click>purchase`-style path string, and count
    * sessions per path with the path's share of all sessions. Scale:
    * the session numbering and the in-session ranking ride ONE
    * user-keyed shuffle (same partition key, two window sorts); the
    * path frame is session-sized and the count frame is
    * vocabulary-bounded (≤ |types|³ + |types|² + |types| rows), so the
    * share window over the unpartitioned count frame is a few hundred
    * rows at any corpus size. */
  val qEventPaths = Q(
    "q_event_paths",
    s"""WITH ${sessionCtesSql(", event_type")},
      |ranked AS (
      |  SELECT user_id, session_id, event_type,
      |         row_number() OVER (PARTITION BY user_id, session_id
      |                            ORDER BY ts, event_id) AS rn
      |  FROM numbered),
      |paths AS (
      |  SELECT user_id, session_id,
      |         string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM ranked WHERE rn <= 3 GROUP BY 1, 2),
      |c AS (SELECT path, count(*) AS sessions FROM paths GROUP BY 1)
      |SELECT path, sessions,
      |       round(CAST(sessions AS DOUBLE) / sum(sessions) OVER (), 4) AS share
      |FROM c ORDER BY sessions DESC, path""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val wSess = Window.partitionBy("user_id", "session_id")
      .orderBy("ts", "event_id")
    val paths = sessionized(Tables.events(s, d))
      .withColumn("rn", row_number().over(wSess))
      .filter(col("rn") <= 3)
      .groupBy("user_id", "session_id")
      // collect_list order is nondeterministic — sort by the struct's
      // leading rn field, then strip to the types, for a stable join
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
    val c = paths.groupBy("path").agg(count(lit(1)).as("sessions"))
    val wAll = Window.partitionBy()
    c.select(col("path"), col("sessions"),
        round(col("sessions").cast("double") / sum("sessions").over(wAll), 4)
          .as("share"))
      .orderBy(col("sessions").desc, col("path"))
  }

  /** First/last-touch purchase attribution — which channel (event type)
    * opened and which closed the journey that ended in each user's
    * FIRST purchase. The journey is every non-purchase event strictly
    * before that purchase; first touch is its earliest event, last
    * touch its latest (ties broken by event_id — total order, so the
    * pick is engine-portable). Scale: both picks are ONE map-side-
    * combined min_by/max_by hash agg on user_id (no window sort at
    * all), and the two roles leave that frame via `stack`, not a
    * Union of branches — a Union would re-execute the whole journey
    * subtree per role (Catalyst doesn't CTE-dedup DataFrame branches),
    * doubling the log scan at 100 TB. Output is vocabulary-bounded. */
  val qAttribution = Q(
    "q_attribution",
    """WITH fp AS (SELECT user_id,
      |                   -- micros truncation BEFORE the min/compare/rank:
      |                   -- Spark reads the nanos-vintage parquet at micros,
      |                   -- so the oracle must pick and rank at the same
      |                   -- precision (the q_event_transitions hazard)
      |                   min(date_trunc('microseconds', ts)) AS pts
      |            FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |pre AS (SELECT e.user_id, e.event_type,
      |               date_trunc('microseconds', e.ts) AS ts, e.event_id
      |        FROM events e JOIN fp USING (user_id)
      |        WHERE date_trunc('microseconds', e.ts) < fp.pts
      |          AND e.event_type <> 'purchase'),
      |r AS (SELECT user_id, event_type,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS rf,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY ts DESC, event_id DESC) AS rl
      |      FROM pre),
      |u AS (SELECT 'first' AS touch, event_type, count(*) AS users
      |      FROM r WHERE rf = 1 GROUP BY 2
      |      UNION ALL
      |      SELECT 'last', event_type, count(*) FROM r WHERE rl = 1 GROUP BY 2)
      |SELECT touch, event_type, users,
      |       round(CAST(users AS DOUBLE)
      |         / sum(users) OVER (PARTITION BY touch), 4) AS share
      |FROM u ORDER BY touch, event_type""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("pts"))
    val pre = ev.join(fp, "user_id")
      .filter(col("ts") < col("pts") && col("event_type") =!= "purchase")
    val picks = pre.groupBy("user_id").agg(
      min_by(col("event_type"), struct(col("ts"), col("event_id")))
        .as("first_type"),
      max_by(col("event_type"), struct(col("ts"), col("event_id")))
        .as("last_type"))
    val u = picks
      .selectExpr("stack(2, 'first', first_type, 'last', last_type) " +
        "AS (touch, event_type)")
      .groupBy("touch", "event_type").agg(count(lit(1)).as("users"))
    val wTouch = Window.partitionBy("touch")
    u.select(col("touch"), col("event_type"), col("users"),
        round(col("users").cast("double") / sum("users").over(wTouch), 4)
          .as("share"))
      .orderBy("touch", "event_type")
  }

  /** Linear multi-touch attribution — the position-agnostic companion
    * of [[qAttribution]]'s first/last picks: every touch in the
    * journey before the user's first purchase earns an equal share of
    * that conversion's credit. Credit is EXACT-INTEGER 1e-4 units:
    * each touch gets 10000 DIV n and the remainder (10000 MOD n) goes
    * to the FIRST touch, so per-journey credit sums to exactly 10000
    * and the report conserves total mass = 10000 × journeys in any
    * aggregation order on any engine (spec-pinned). No window: the
    * first touch is a min(struct(ts, event_id)) hash agg compared back
    * on the journey frame — one user-keyed agg + one user-keyed join,
    * output channel-vocabulary-bounded. */
  val qAttributionLinear = Q(
    "q_attribution_linear",
    """WITH fp AS (SELECT user_id,
      |                   min(date_trunc('microseconds', ts)) AS pts
      |            FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |pre AS (SELECT e.user_id, e.event_type,
      |               date_trunc('microseconds', e.ts) AS ts, e.event_id
      |        FROM events e JOIN fp USING (user_id)
      |        WHERE date_trunc('microseconds', e.ts) < fp.pts
      |          AND e.event_type <> 'purchase'),
      |j AS (SELECT user_id, count(*) AS n FROM pre GROUP BY 1),
      |r AS (SELECT p.user_id, p.event_type, j.n,
      |             row_number() OVER (PARTITION BY p.user_id
      |                                ORDER BY p.ts, p.event_id) AS rf
      |      FROM pre p JOIN j USING (user_id))
      |SELECT event_type,
      |       CAST(sum(10000 // n + CASE WHEN rf = 1 THEN 10000 % n
      |                             ELSE 0 END) AS BIGINT) AS credit_1e4
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("pts"))
    val pre = ev.join(fp, "user_id")
      .filter(col("ts") < col("pts") && col("event_type") =!= "purchase")
    val j = pre.groupBy("user_id").agg(count(lit(1)).as("n"),
      min(struct(col("ts"), col("event_id"))).as("firstkey"))
    pre.join(j, "user_id")
      .withColumn("credit", expr("10000 DIV n") +
        when(struct(col("ts"), col("event_id")) === col("firstkey"),
          expr("10000 % n")).otherwise(lit(0L)))
      .groupBy("event_type").agg(sum("credit").as("credit_1e4"))
      .orderBy("event_type")
  }

  /** Deterministic A/B experiment readout: users are assigned to arms
    * by the PORTABLE key mixer (`Catalog.portableHashSql` — the
    * q_split_train_eval property applied to experimentation:
    * assignment is a pure function of user_id, so it is re-runnable,
    * partitioning-invariant, and a user can never switch arms between
    * reads — exactly what RNG bucketing lacks). The metric is
    * purchases per user (continuous — a binary "ever purchased" is
    * degenerate on this corpus where every user converts). One summary
    * row: per-arm exposure and purchase totals, exact-integer 4dp
    * means, relative lift as a ratio of exact rationals
    * ((sB·uA)/(sA·uB), integer-rounded; headroom 2·s·u·10⁴ < 2^63 —
    * widen to DECIMAL past ~4.6×10^14 purchase-user products), and the
    * Welch z-score over the integer (sum, sumsq) moments — the only
    * double arithmetic, an IDENTICAL expression tree on both engines,
    * guarded so zero variance yields NULL, not a divide error. Scale:
    * one user-keyed hash agg over the purchase-pruned scan, then a
    * 1-row summary. */
  val qExperimentLift = Q(
    "q_experiment_lift",
    s"""WITH u AS (
      |  SELECT user_id, count(*) AS n FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |h AS (SELECT n,
      |       ${Catalog.portableHashSql("user_id")}
      |      FROM u),
      |arms AS (SELECT h4 % 2 AS variant, count(*) AS users,
      |                CAST(sum(n) AS BIGINT) AS s,
      |                CAST(sum(n * n) AS BIGINT) AS q
      |         FROM h GROUP BY 1),
      |w AS (SELECT
      |        max(CASE WHEN variant = 0 THEN users END) AS ua,
      |        max(CASE WHEN variant = 0 THEN s END) AS sa,
      |        max(CASE WHEN variant = 0 THEN q END) AS qa,
      |        max(CASE WHEN variant = 1 THEN users END) AS ub,
      |        max(CASE WHEN variant = 1 THEN s END) AS sb,
      |        max(CASE WHEN variant = 1 THEN q END) AS qb
      |      FROM arms)
      |SELECT ua AS users_a, sa AS purchases_a, ub AS users_b,
      |       sb AS purchases_b,
      |       CAST((2 * sa * 10000 + ua) // (2 * ua) AS DOUBLE) / 10000.0
      |         AS mean_a,
      |       CAST((2 * sb * 10000 + ub) // (2 * ub) AS DOUBLE) / 10000.0
      |         AS mean_b,
      |       CASE WHEN sa > 0 THEN
      |         CAST((2 * sb * ua * 10000 + sa * ub) // (2 * sa * ub)
      |              AS DOUBLE) / 10000.0 END AS lift,
      |       CASE WHEN ua > 1 AND ub > 1 AND
      |            (CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / ua)
      |              / (ua - 1) / ua
      |            + (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / ub)
      |              / (ub - 1) / ub > 0 THEN
      |         round((CAST(sb AS DOUBLE) / ub - CAST(sa AS DOUBLE) / ua)
      |           / sqrt((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / ua)
      |                    / (ua - 1) / ua
      |                  + (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / ub)
      |                    / (ub - 1) / ub), 4) END AS z_score
      |FROM w""".stripMargin) { (s, d) =>
    val u = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val arms = u
      .withColumn("variant",
        pmod(Catalog.portableHash(col("user_id")), lit(2L)))
      .groupBy("variant")
      .agg(count(lit(1)).as("users"),
        sum("n").cast("bigint").as("s"),
        sum(col("n") * col("n")).cast("bigint").as("q"))
    val w = arms.agg(
      max(when(col("variant") === 0, col("users"))).as("ua"),
      max(when(col("variant") === 0, col("s"))).as("sa"),
      max(when(col("variant") === 0, col("q"))).as("qa"),
      max(when(col("variant") === 1, col("users"))).as("ub"),
      max(when(col("variant") === 1, col("s"))).as("sb"),
      max(when(col("variant") === 1, col("q"))).as("qb"))
    w.selectExpr(
      "ua AS users_a", "sa AS purchases_a", "ub AS users_b",
      "sb AS purchases_b",
      "CAST((2 * sa * 10000 + ua) DIV (2 * ua) AS DOUBLE) / 10000.0 AS mean_a",
      "CAST((2 * sb * 10000 + ub) DIV (2 * ub) AS DOUBLE) / 10000.0 AS mean_b",
      "CASE WHEN sa > 0 THEN CAST((2 * sb * ua * 10000 + sa * ub) " +
        "DIV (2 * sa * ub) AS DOUBLE) / 10000.0 END AS lift",
      "CASE WHEN ua > 1 AND ub > 1 AND " +
        "(CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / ua) / (ua - 1) / ua " +
        "+ (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / ub) / (ub - 1) / ub " +
        "> 0 THEN " +
        "round((CAST(sb AS DOUBLE) / ub - CAST(sa AS DOUBLE) / ua) " +
        "/ sqrt((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / ua) " +
        "/ (ua - 1) / ua " +
        "+ (CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / ub) " +
        "/ (ub - 1) / ub), 4) END AS z_score")
  }

  /** Session-level engagement summary — the aggregate layer above the
    * per-session rows: sessionize with THE one batch sessionizer
    * definition ([[sessionized]], shared with q_event_paths — round 14,
    * on advice: the earlier `session_window` formulation breaks a
    * session when the gap REACHES 30:00 while this oracle and the
    * sibling keys break only when it strictly EXCEEDS it, a
    * measure-zero divergence on micros data but a real one; the exact
    * boundary is now spec-pinned), then ONE global row of session
    * count, exact p50/p90 session duration (floored-second deltas of
    * actual first/last event, engine-portable), and mean events per
    * session. The streaming session keys keep `session_window` — their
    * half-open semantics are their own oracles' contract. Scale: the
    * sessionize is one user-keyed shuffle; the percentile runs over the
    * session frame (≤ events rows, usually ≪), the output is 1 row. */
  val qSessionStats = Q(
    "q_session_stats",
    s"""WITH ${sessionCtesSql("")},
      |g AS (SELECT user_id, session_id, count(*) AS n,
      |             date_diff('second', min(ts), max(ts)) AS dur
      |      FROM numbered GROUP BY 1, 2)
      |SELECT count(*) AS sessions,
      |       round(quantile_cont(dur, 0.5), 4) AS p50_dur_sec,
      |       round(quantile_cont(dur, 0.9), 4) AS p90_dur_sec,
      |       round(avg(n), 4) AS avg_events
      |FROM g""".stripMargin) { (s, d) =>
    def secs(c: org.apache.spark.sql.Column) =
      c.cast("timestamp").cast("long")
    sessionized(Tables.events(s, d))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n"),
        (secs(max("ts")) - secs(min("ts"))).as("dur"))
      .agg(count(lit(1)).as("sessions"),
        round(percentile(col("dur"), lit(0.5)), 4).as("p50_dur_sec"),
        round(percentile(col("dur"), lit(0.9)), 4).as("p90_dur_sec"),
        round(avg("n"), 4).as("avg_events"))
  }

  /** Rolling z-score anomaly flags over the hourly series — the
    * alerting layer on top of the resampled metrics: a bucket whose
    * hourly sum deviates from its trailing-24-bucket mean by more than
    * 3σ (population), after a 12-bucket warm-up. The DETERMINISM trick
    * is the whole design: the hourly sum is an INTEGER-CENTS sum
    * (`value` is 2-decimal money — per-row round(value·100) then a
    * bigint sum, exact in any aggregation order; round 14, on advice —
    * the earlier round-a-double-sum-then-scale path could flip a
    * 5th-decimal tie and with it a 3σ flag), and the 3σ test is
    * evaluated in EXACT integer arithmetic — (n·x − S)² > 9·(n·Sq − S²)
    * is algebraically (x − mean)² > 9·var with every term an integer
    * window sum, so both engines compute bit-identical flags in any
    * order. The displayed `observed` is cents/100.0 — one IEEE divide
    * of an exact integer, identical bits on both engines. Scale shape:
    * one hash agg + one series-partitioned window; integer headroom
    * holds to hourly cents sums ≈ 6×10⁸ (far past sf100 here) — widen
    * to DECIMAL beyond that. */
  val qAnomalyZscore = Q(
    "q_anomaly_zscore",
    """WITH obs AS (SELECT event_type, date_trunc('hour', ts) AS h,
      |                    sum(CAST(round(value * 100) AS BIGINT)) AS v
      |             FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, h, v,
      |             count(*) OVER win AS n,
      |             sum(v) OVER win AS s,
      |             sum(v * v) OVER win AS sq
      |      FROM obs
      |      WINDOW win AS (PARTITION BY event_type ORDER BY h
      |                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
      |SELECT event_type, CAST(h AS TIMESTAMP) AS hour,
      |       CAST(v AS DOUBLE) / 100.0 AS observed
      |FROM w
      |WHERE n >= 12 AND (n * v - s) * (n * v - s) > 9 * (n * sq - s * s)
      |ORDER BY event_type, hour""".stripMargin) { (s, d) =>
    zscoreFlags(hourlyCells(Tables.events(s, d))).orderBy("event_type", "hour")
  }

  /** Hourly integer-cents value cells per event type — the additive
    * state both the batch key and the streaming sink
    * ([[graft.streaming.Streams.hourlyCellSink]]) maintain. */
  private[graft] def hourlyCells(events: org.apache.spark.sql.DataFrame) =
    events.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(round(col("value") * 100, 0).cast("bigint")).as("v"))

  /** The 24-hour rolling 3-sigma scorer over hourly cells
    * (event_type, h, v): all-integer stats (n, Σv, Σv²) so the flag
    * threshold is exact on both engines and across batch/streamed cell
    * sources. Shared by `q_anomaly_zscore` and the streamed-store
    * reader `q_gate_stream_anomaly` pins against it. */
  private[graft] def zscoreFlags(obs: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(-23, Window.currentRow)
    val scored = obs
      .withColumn("n", count(lit(1)).over(win))
      .withColumn("s", sum("v").over(win))
      .withColumn("sq", sum(col("v") * col("v")).over(win))
    val dev = col("n") * col("v") - col("s")
    scored
      .filter(col("n") >= 12 &&
        dev * dev > lit(9L) * (col("n") * col("sq") - col("s") * col("s")))
      .select(col("event_type"), col("h").as("hour"),
        (col("v").cast("double") / 100.0).as("observed"))
  }

  /** Hourly resample of per-type value sums onto a dense spine with
    * forward fill (operators/TimeSeriesFill): gaps become explicit NULL
    * observations and `filled` carries the last value across them. */
  val qTimeseriesFill = Q(
    "q_timeseries_fill",
    """WITH bounds AS (SELECT date_trunc('hour', min(ts)) AS lo,
      |                       date_trunc('hour', max(ts)) AS hi FROM events),
      |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
      |          FROM bounds),
      |types AS (SELECT DISTINCT event_type FROM events),
      |obs AS (SELECT event_type, date_trunc('hour', ts) AS h,
      |               round(sum(value), 4) AS sum_val
      |        FROM events GROUP BY 1, 2),
      |grid AS (SELECT t.event_type, s.h, o.sum_val
      |         FROM spine s CROSS JOIN types t
      |         LEFT JOIN obs o ON o.event_type = t.event_type AND o.h = s.h)
      |SELECT event_type, CAST(h AS TIMESTAMP) AS hour, sum_val AS observed,
      |       last_value(sum_val IGNORE NULLS) OVER (PARTITION BY event_type
      |         ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS filled
      |FROM grid ORDER BY event_type, hour""".stripMargin) { (s, d) =>
    graft.operators.TimeSeriesFill
      .hourly(Tables.events(s, d), "event_type", "ts", "value")
      .orderBy("event_type", "hour")
  }

  val all: Seq[Q] = Seq(qFunnel, qFunnelLatency, qFunnelUnordered,
    qRetentionCohort, qRetentionWeekly, qActiveUsers, qActiveUsersSketch,
    qEventTransitions, qEventPaths, qAttribution, qAttributionLinear,
    qExperimentLift,
    qSessionStats, qAnomalyZscore, qTimeseriesFill)
}
