package graft.operators

import graft.{Materialize, QueryDef, QueryModule, Tables}
import graft.functions.HashFunctions.{md5U60, md5U60Sql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch event analytics — the sessionization/funnel/cohort battery
  * every clickstream user of an analytics engine runs (the batch
  * complements of `streaming.EventStreams`' windowed forms).
  *
  * Time parity note: `events.ts` is TIMESTAMP(NANOS) at rest; the Spark
  * side truncates to micros (Tables.events) and all cross-engine
  * comparisons here use integer epoch MICROSECONDS (`unix_micros` /
  * DuckDB `epoch_us`), so both engines compare identical integers —
  * no float seconds, no sub-micro drift.
  */
object EventAnalytics extends QueryModule {

  private val sessionGapUs = 30L * 60 * 1000000 // 30 min

  /** q81: lag-gap sessionization — the classic batch session-id
    * assignment: order each user's events, open a new session when the
    * gap to the previous event exceeds 30 min, session_id = running sum
    * of the break flags. Two window passes over the same (user, time)
    * sort order — one partition sort total — then one aggregation.
    * Scale: windows partition by user (millions of small partitions),
    * never a global sort.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("brk",
        when(col("us") - lag(col("us"), 1).over(w) > sessionGapUs, 1)
          .when(lag(col("us"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      .select(col("user_id"), col("session_id").cast("bigint").as("session_id"),
        col("n_events").cast("bigint").as("n_events"),
        col("start_us"), col("end_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private val sessionizeSql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
       |), b AS (
       |  SELECT user_id, event_id, us,
       |    CASE WHEN lag(us) OVER w IS NULL THEN 1
       |         WHEN us - lag(us) OVER w > $sessionGapUs THEN 1
       |         ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |), s AS (
       |  SELECT user_id, us,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                   ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM b
       |)
       |SELECT user_id, session_id::BIGINT AS session_id,
       |  count(*)::BIGINT AS n_events,
       |  min(us) AS start_us, max(us) AS end_us
       |FROM s GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  /** q82: ordered conversion funnel — view → click-after-view →
    * purchase-after-click, the strictly-sequenced funnel (a click
    * BEFORE the first view doesn't count). Three stage aggregates, each
    * an equi-join of the event table against the prior stage on
    * user_id. The stage relations are O(|users|) — NOT broadcastable at
    * the 100 TB design point — so the joins carry no hints: both sides
    * hash-partition on user_id (one shared shuffle key across stages)
    * and AQE still converts to broadcast at small scale factors.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("us") >= col("v_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("c_us"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("us") >= col("c_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
    v.agg(count(lit(1)).as("n_view_users"))
      .crossJoin(c.agg(count(lit(1)).as("n_click_users")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_users")))
      .select(col("n_view_users").cast("bigint").as("n_view_users"),
        col("n_click_users").cast("bigint").as("n_click_users"),
        col("n_purchase_users").cast("bigint").as("n_purchase_users"))
  }

  private val funnelSql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
      |), v AS (
      |  SELECT user_id, min(us) AS v_us FROM e
      |  WHERE event_type = 'view' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, min(e.us) AS c_us
      |  FROM e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.us >= v.v_us
      |  GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, min(e.us) AS p_us
      |  FROM e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.us >= c.c_us
      |  GROUP BY e.user_id
      |)
      |SELECT (SELECT count(*) FROM v)::BIGINT AS n_view_users,
      |       (SELECT count(*) FROM c)::BIGINT AS n_click_users,
      |       (SELECT count(*) FROM p)::BIGINT AS n_purchase_users""".stripMargin

  /** q83: weekly cohort retention — users grouped by first-seen ISO
    * week, counted per subsequent activity week (the retention matrix in
    * long form). Two aggregations: first-seen per user, then distinct
    * (user, week) activity joined back — both partial-aggregated, keyed
    * by user then by (cohort, offset).
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
      .distinct()
    val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    e.join(first, Seq("user_id"))
      .withColumn("offset_weeks", (datediff(col("wk"), col("cohort_wk")) / 7).cast("int"))
      .groupBy(col("cohort_wk"), col("offset_weeks"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .select(col("cohort_wk"), col("offset_weeks"),
        col("n_users").cast("bigint").as("n_users"))
      .orderBy(col("cohort_wk"), col("offset_weeks"))
  }

  private val cohortRetentionSql =
    """WITH a AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS wk FROM events
      |), f AS (
      |  SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY user_id
      |)
      |SELECT f.cohort_wk, ((a.wk - f.cohort_wk) // 7)::INT AS offset_weeks,
      |  count(DISTINCT a.user_id)::BIGINT AS n_users
      |FROM a JOIN f ON a.user_id = f.user_id
      |GROUP BY f.cohort_wk, offset_weeks
      |ORDER BY f.cohort_wk, offset_weeks""".stripMargin

  /** q92: gaps-and-islands — consecutive-day activity streaks per user.
    * Classic island id: day_number − row_number is constant within a
    * run of consecutive days. Two user-partitioned window passes over
    * one sort order, then two aggregations; day arithmetic is integer
    * (days since a fixed epoch) so cross-engine parity is exact.
    * Scale: everything is partitioned by user — no global sort, and the
    * distinct-days relation is ≤ users × days regardless of event count.
    */
  def activityStreaks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day_num"))
    val days = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1995-01-01").cast("date")).as("day_num"))
      .distinct()
    days
      .withColumn("island", col("day_num") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("streak_len"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("streak_len")).cast("bigint").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("streak_len")).cast("bigint").as("max_streak"))
      .orderBy(col("user_id"))
  }

  private val activityStreaksSql =
    """WITH days AS (
      |  SELECT DISTINCT user_id, date_diff('day', DATE '1995-01-01', ts::DATE) AS day_num
      |  FROM events
      |), isl AS (
      |  SELECT user_id,
      |    day_num - row_number() OVER (PARTITION BY user_id ORDER BY day_num) AS island
      |  FROM days
      |), s AS (
      |  SELECT user_id, island, count(*) AS streak_len
      |  FROM isl GROUP BY user_id, island
      |)
      |SELECT user_id, sum(streak_len)::BIGINT AS n_active_days,
      |  count(*) AS n_streaks, max(streak_len)::BIGINT AS max_streak
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q103: SCD type-2 state dimension — compress each user's event
    * stream into validity intervals of the current event type:
    * change-row detection via `lag`, then `lead` over the change rows
    * gives [valid_from, valid_to) in epoch micros (−1 = open / current
    * version). The warehouse pattern for history-preserving dimension
    * builds. Windows partition by user — no global sort at any scale —
    * and the output is change-compressed, so it only grows with
    * actual state churn.
    */
  def scd2UserState(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("version", row_number().over(w).cast("bigint"))
      .withColumn("valid_to_us", coalesce(lead(col("us"), 1).over(w), lit(-1L)))
      .select(col("user_id"), col("version"), col("event_type"),
        col("us").as("valid_from_us"), col("valid_to_us"))
      .orderBy(col("user_id"), col("version"))
  }

  private val scd2UserStateSql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
      |), c AS (
      |  SELECT * FROM (
      |    SELECT user_id, event_id, event_type, us,
      |      lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
      |    FROM e)
      |  WHERE prev IS NULL OR prev <> event_type
      |)
      |SELECT user_id,
      |  row_number() OVER w AS version,
      |  event_type, us AS valid_from_us,
      |  coalesce(lead(us) OVER w, -1) AS valid_to_us
      |FROM c
      |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |ORDER BY user_id, version""".stripMargin

  /** q104: event-type transition matrix — first-order Markov counts of
    * (previous → current) event-type pairs plus row-normalized
    * transition probabilities, the behavioral fingerprint used for
    * anomaly and bot detection. One user-partitioned window pass, then
    * a 25-cell aggregate; the probability normalization runs over the
    * type×type relation, which is constant-sized at any event volume.
    */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total",
        sum(col("n")).over(Window.partitionBy(col("prev"))).cast("bigint"))
      .withColumn("p", round(col("n").cast("double") / col("row_total"), 4))
      .select(col("prev").as("from_type"), col("event_type").as("to_type"),
        col("n"), col("row_total"), col("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val transitionMatrixSql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
      |), p AS (
      |  SELECT event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
      |  FROM e
      |), c AS (
      |  SELECT prev AS from_type, event_type AS to_type, count(*) AS n
      |  FROM p WHERE prev IS NOT NULL GROUP BY 1, 2
      |)
      |SELECT from_type, to_type, n,
      |  sum(n) OVER (PARTITION BY from_type)::BIGINT AS row_total,
      |  round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 4) AS p
      |FROM c ORDER BY from_type, to_type""".stripMargin

  /** q106: conversion-latency percentiles — per weekly cohort (week of
    * first view), the p50/p90 delay from a user's first `view` to their
    * first subsequent `purchase`. Percentiles are DISCRETE, picked at
    * exact integer ranks (⌈n/2⌉, ⌈9n/10⌉) over the per-cohort delay
    * order — engine-portable, no interpolation. The ranked relation is
    * conversions (≤ |users|), not events, so the window pass is over an
    * already-reduced table at any event volume.
    */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val firstView = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
    val conv = e.filter(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .filter(col("us") > col("v_us"))
      .groupBy(col("user_id"), col("v_us")).agg(min(col("us")).as("p_us"))
      .withColumn("delay_us", col("p_us") - col("v_us"))
      .withColumn("cohort_wk",
        date_trunc("week", timestamp_micros(col("v_us"))).cast("date"))
    val byCohort = Window.partitionBy(col("cohort_wk"))
    conv
      .withColumn("rn", row_number().over(byCohort.orderBy(col("delay_us"))))
      .withColumn("n", count(lit(1)).over(byCohort))
      .groupBy(col("cohort_wk"))
      .agg(
        count(lit(1)).as("n_converted"),
        max(when(col("rn") === ((col("n") + 1) / 2).cast("long"), col("delay_us")))
          .as("p50_delay_us"),
        max(when(col("rn") === ((col("n") * 9 + 9) / 10).cast("long"), col("delay_us")))
          .as("p90_delay_us"),
        max(col("delay_us")).as("max_delay_us"))
      .orderBy(col("cohort_wk"))
  }

  private val conversionLatencySql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
      |), fv AS (
      |  SELECT user_id, min(us) AS v_us FROM e WHERE event_type = 'view'
      |  GROUP BY user_id
      |), conv AS (
      |  SELECT e.user_id, fv.v_us, min(e.us) - fv.v_us AS delay_us,
      |    date_trunc('week', make_timestamp(fv.v_us))::DATE AS cohort_wk
      |  FROM e JOIN fv USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.us > fv.v_us
      |  GROUP BY e.user_id, fv.v_us
      |), ranked AS (
      |  SELECT cohort_wk, delay_us,
      |    row_number() OVER (PARTITION BY cohort_wk ORDER BY delay_us) AS rn,
      |    count(*) OVER (PARTITION BY cohort_wk) AS n
      |  FROM conv
      |)
      |SELECT cohort_wk, count(*) AS n_converted,
      |  max(CASE WHEN rn = (n + 1) // 2 THEN delay_us END) AS p50_delay_us,
      |  max(CASE WHEN rn = (n * 9 + 9) // 10 THEN delay_us END) AS p90_delay_us,
      |  max(delay_us) AS max_delay_us
      |FROM ranked GROUP BY cohort_wk ORDER BY cohort_wk""".stripMargin

  private val decayTauUs = 7.0 * 24 * 3600 * 1000000 // 7-day half-life-ish scale

  /** q105: exponentially time-decayed engagement — per-user decayed
    * value mass anchored at the corpus max timestamp,
    * Σ value·exp(−Δt/τ) with τ = 7 days: the recency-weighted score
    * that powers freshness-aware ranking. The anchor is a single-row
    * broadcast aggregate (never a driver collect), the decay is a
    * map-side expression, and the per-user reduce partially
    * aggregates — one shuffle total.
    */
  def decayedEngagement(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("us"))
    val anchor = e.agg(max(col("us")).as("tmax"))
    e.crossJoin(broadcast(anchor))
      .withColumn("wt", col("value") *
        exp(-((col("tmax") - col("us")).cast("double") / lit(decayTauUs))))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("raw_sum"),
        round(sum(col("wt")), 4).as("decayed_sum"))
      .orderBy(col("user_id"))
  }

  private val decayedEngagementSql =
    s"""WITH e AS (
       |  SELECT user_id, value, epoch_us(ts) AS us FROM events
       |), t AS (SELECT max(us) AS tmax FROM e)
       |SELECT user_id, count(*) AS n_events,
       |  round(sum(value), 4) AS raw_sum,
       |  round(sum(value * exp(-((tmax - us)::DOUBLE / $decayTauUs))), 4) AS decayed_sum
       |FROM e CROSS JOIN t
       |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q120: EWMA anomaly detection — flag hours whose event count spikes
    * above an exponentially-weighted moving average of the trailing 16
    * hours (α = 1/2). The ops-monitoring pattern: dense per-type hourly
    * series (integer-hour spine, zeros filled), then a lag battery.
    *
    * Cross-engine determinism: α = 1/2 makes every EWMA weight a power
    * of two, so the weighted sum S = Σ_{k=1..16} x_{t-k}·2^(16-k) and
    * the anomaly verdict x > (3/2)·ewma + 2, cross-multiplied to
    * 2·x·65535 > 3·S + 4·65535, are EXACT integer arithmetic — no float
    * accumulation order anywhere; the reported ewma divides the exact S
    * once at output. Scale: the series is
    * |types|×|hours| (aggregate-sized, not event-sized); windows
    * partition by type — no global sort; the 16 lags share one sort.
    */
  def ewmaAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hrs = Tables.events(spark, dir)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hr"))
    val counts = hrs.groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("n"))
    val bounds = hrs.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
    val spine = bounds.select(explode(sequence(col("lo"), col("hi"))).as("hr"))
      .crossJoin(hrs.select(col("event_type")).distinct())
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val weighted = (1 to 16).map(k => lag(col("x"), k).over(w) * lit(1L << (16 - k)))
      .reduce(_ + _)
    spine.join(counts, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"), coalesce(col("n"), lit(0L)).cast("long").as("x"))
      .withColumn("s", weighted)
      .filter(col("s").isNotNull &&
        col("x") * 131070L > col("s") * 3L + 262140L)
      .select(col("event_type"), col("hr"), col("x"),
        round(col("s").cast("double") / 65535.0, 4).as("ewma"))
      .orderBy(col("event_type"), col("hr"))
  }

  private val ewmaAnomalySql = {
    val weighted = (1 to 16).map(k => s"lag(x, $k) OVER w * ${1L << (16 - k)}")
      .mkString(" + ")
    s"""WITH hrs AS (
       |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr FROM events
       |), counts AS (
       |  SELECT event_type, hr, count(*) AS n FROM hrs GROUP BY 1, 2
       |), bounds AS (SELECT min(hr) AS lo, max(hr) AS hi FROM hrs),
       |spine AS (
       |  SELECT t.event_type, unnest(generate_series(b.lo, b.hi)) AS hr
       |  FROM (SELECT DISTINCT event_type FROM hrs) t CROSS JOIN bounds b
       |), series AS (
       |  SELECT s.event_type, s.hr, coalesce(c.n, 0)::BIGINT AS x
       |  FROM spine s LEFT JOIN counts c
       |    ON s.event_type = c.event_type AND s.hr = c.hr
       |), lagged AS (
       |  SELECT event_type, hr, x, $weighted AS s
       |  FROM series
       |  WINDOW w AS (PARTITION BY event_type ORDER BY hr)
       |)
       |SELECT event_type, hr, x, round(s::DOUBLE / 65535.0, 4) AS ewma
       |FROM lagged
       |WHERE s IS NOT NULL AND x * 131070 > s * 3 + 262140
       |ORDER BY event_type, hr""".stripMargin
  }

  /** q127: session path mining — the most common 3-step event-type
    * sequences WITHIN a session (q81's gap rule), the navigation-pattern
    * query behind "how do users actually reach purchase". Trigrams come
    * from two lead() passes on the same (user, time) sort order the
    * sessionization already needs — no self-joins, no explode of
    * per-session arrays; the aggregate is |type|³-bounded.
    */
  def sessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val ws = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("brk",
        when(col("us") - lag(col("us"), 1).over(w) > sessionGapUs, 1)
          .when(lag(col("us"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("t2", lead(col("event_type"), 1).over(ws))
      .withColumn("t3", lead(col("event_type"), 2).over(ws))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  private val sessionPathsSql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
       |), b AS (
       |  SELECT user_id, event_id, event_type, us,
       |    CASE WHEN lag(us) OVER w IS NULL THEN 1
       |         WHEN us - lag(us) OVER w > $sessionGapUs THEN 1
       |         ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |), s AS (
       |  SELECT user_id, event_id, event_type, us,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                   ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM b
       |), tri AS (
       |  SELECT event_type || '>' || lead(event_type, 1) OVER ws
       |      || '>' || lead(event_type, 2) OVER ws AS path,
       |    lead(event_type, 2) OVER ws AS t3
       |  FROM s
       |  WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY us, event_id)
       |)
       |SELECT path, count(*) AS n FROM tri
       |WHERE t3 IS NOT NULL
       |GROUP BY path ORDER BY n DESC, path LIMIT 10""".stripMargin

  private val dayUs = 86400000000L

  /** q137: peak concurrency per day — the sweep-line capacity metric
    * (max sessions open at once) operations teams size infrastructure
    * by. Sessions come from q81's lag-gap sessionization; each session
    * is split at UTC midnight into per-day segments (a day-spine
    * explode, O(session days)), segments become +1/−1 boundary points,
    * and a per-day cumulative sum over (time, starts-before-ends) order
    * yields instantaneous concurrency; the day's max is the peak.
    * Session ends are inclusive: a session ending at instant t overlaps
    * one starting at t, so +1 sorts before −1 at equal timestamps —
    * which also makes the daily max independent of intra-tie order
    * (within a run of +1s the running sum is monotone, so the peak sits
    * at run boundaries regardless of permutation).
    *
    * Scale shape: everything is integer micros; the sweep partitions by
    * day, so each day sorts independently — no global ordering. At
    * 1000-executor scale the day key fans out; skewed single days
    * would salt by (day, hour) with per-hour carry-in, the standard
    * refinement.
    */
  def concurrencyPeaks(spark: SparkSession, dir: String): DataFrame = {
    val sessions = sessionize(spark, dir)
    val segs = sessions
      .select(col("start_us"), col("end_us"),
        explode(expr(s"sequence(start_us div $dayUs, end_us div $dayUs)")).as("d"))
      .select(col("d"),
        greatest(col("start_us"), col("d") * dayUs).as("seg_start"),
        least(col("end_us"), (col("d") + 1) * dayUs - 1).as("seg_end"))
    val points = segs.select(col("d"), col("seg_start").as("t"), lit(1).as("delta"))
      .unionByName(segs.select(col("d"), col("seg_end").as("t"), lit(-1).as("delta")))
    val w = Window.partitionBy(col("d")).orderBy(col("t"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    points
      .withColumn("running", sum(col("delta")).over(w))
      .groupBy(col("d"))
      .agg(max(col("running")).cast("int").as("peak_concurrency"),
        (count(lit(1)) / 2).cast("bigint").as("n_sessions"))
      .select(expr("date_add(DATE '1970-01-01', CAST(d AS INT))").as("day"),
        col("n_sessions"), col("peak_concurrency"))
      .orderBy(col("day"))
  }

  private val concurrencyPeaksSql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
       |), b AS (
       |  SELECT user_id, event_id, us,
       |    CASE WHEN lag(us) OVER w IS NULL THEN 1
       |         WHEN us - lag(us) OVER w > $sessionGapUs THEN 1
       |         ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |), s AS (
       |  SELECT user_id, us,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                   ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM b
       |), sess AS (
       |  SELECT min(us) AS start_us, max(us) AS end_us
       |  FROM s GROUP BY user_id, session_id
       |), segs AS (
       |  SELECT unnest(generate_series(start_us // $dayUs, end_us // $dayUs)) AS d,
       |    start_us, end_us
       |  FROM sess
       |), seg2 AS (
       |  SELECT d, greatest(start_us, d * $dayUs) AS seg_start,
       |    least(end_us, (d + 1) * $dayUs - 1) AS seg_end
       |  FROM segs
       |), points AS (
       |  SELECT d, seg_start AS t, 1 AS delta FROM seg2
       |  UNION ALL
       |  SELECT d, seg_end AS t, -1 AS delta FROM seg2
       |), run AS (
       |  SELECT d, sum(delta) OVER (PARTITION BY d ORDER BY t, delta DESC
       |    ROWS UNBOUNDED PRECEDING) AS running
       |  FROM points
       |)
       |SELECT DATE '1970-01-01' + d::INT AS day,
       |  (count(*) / 2)::BIGINT AS n_sessions,
       |  max(running)::INT AS peak_concurrency
       |FROM run GROUP BY d ORDER BY day""".stripMargin

  /** q146: rolling 7-day active users (WAU) next to daily actives
    * (DAU) — the engagement ratio dashboard metric. Distinct-count
    * over a SLIDING window can't use a plain window frame (distinct
    * isn't decomposable), so the operator uses the cover-set expansion:
    * each distinct (user, active-day) pair covers the 7 windows ending
    * on days d..d+6; distinct cover pairs per window ARE the rolling
    * distinct count. Exact, linear (7× the distinct-pair relation),
    * and partition-parallel — no global state. At much wider windows
    * (90-day MAU) the cover blowup argues for a sliding HLL sketch
    * instead; at 7 days exact wins.
    */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), expr(s"unix_micros(ts) div $dayUs").as("d"))
      .distinct()
      .persist() // read by the cover expansion and DAU
    val cover = pairs
      .select(col("user_id"), explode(expr("sequence(d, d + 6)")).as("d2"))
      .distinct()
    // no separate observed-day spine: the inner join with DAU below
    // already restricts the cover days to observed days, so a
    // days-semi-join before the count would be a redundant third
    // consumer of the cache and an extra shuffle
    val wau = cover.groupBy(col("d2")).agg(count(lit(1)).as("wau"))
    val dau = pairs.groupBy(col("d").as("d2")).agg(count(lit(1)).as("dau"))
    Materialize.releasing(
      wau.join(dau, Seq("d2"))
        .select(expr("date_add(DATE '1970-01-01', CAST(d2 AS INT))").as("day"),
          col("dau").cast("bigint").as("dau"), col("wau").cast("bigint").as("wau"))
        .orderBy(col("day")),
      pairs)
  }

  private val rollingActiveUsersSql =
    s"""WITH pairs AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // $dayUs AS d FROM events
       |), cover AS (
       |  SELECT DISTINCT user_id, d2 FROM (
       |    SELECT user_id, unnest(generate_series(d, d + 6)) AS d2 FROM pairs)
       |), days AS (
       |  SELECT DISTINCT d AS d2 FROM pairs
       |), wau AS (
       |  SELECT d2, count(*) AS wau FROM cover JOIN days USING (d2) GROUP BY d2
       |), dau AS (
       |  SELECT d AS d2, count(*) AS dau FROM pairs GROUP BY d
       |)
       |SELECT DATE '1970-01-01' + d2::INT AS day,
       |  dau::BIGINT AS dau, wau::BIGINT AS wau
       |FROM wau JOIN dau USING (d2) ORDER BY day""".stripMargin

  private val cartWindowUs = 24L * 3600 * 1000000 // 24 h

  /** q147: abandoned-cart analysis — for every `view` event, did the
    * same user `purchase` within 24 h AFTER it (strictly later in
    * (time, event_id) order)? Daily totals of views / converted /
    * abandoned plus the conversion rate. The "next qualifying event
    * within a horizon" primitive behind cart-abandonment, retry-success
    * and escalation-SLA metrics.
    *
    * Shape: ONE window pass — min of the conditional purchase
    * timestamp over the strictly-following frame per user — instead of
    * a view×purchase self-join; the frame trick keeps it linear and
    * partition-parallel by user. All time math in integer micros.
    */
  def abandonedCarts(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    e.withColumn("next_purchase_us",
        min(when(col("event_type") === "purchase", col("us"))).over(w))
      .filter(col("event_type") === "view")
      .withColumn("converted",
        col("next_purchase_us").isNotNull &&
          col("next_purchase_us") <= col("us") + cartWindowUs)
      .groupBy(expr(s"us div $dayUs").as("d"))
      .agg(count(lit(1)).as("n_views"),
        sum(when(col("converted"), 1L).otherwise(0L)).as("n_converted"))
      .select(expr("date_add(DATE '1970-01-01', CAST(d AS INT))").as("day"),
        col("n_views").cast("bigint").as("n_views"),
        col("n_converted").cast("bigint").as("n_converted"),
        (col("n_views") - col("n_converted")).cast("bigint").as("n_abandoned"),
        round(col("n_converted").cast("double") / col("n_views"), 4).as("conversion_rate"))
      .orderBy(col("day"))
  }

  private val abandonedCartsSql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
       |  FROM events WHERE event_type IN ('view', 'purchase')
       |), nxt AS (
       |  SELECT user_id, event_type, us,
       |    min(CASE WHEN event_type = 'purchase' THEN us END) OVER (
       |      PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase_us
       |  FROM e
       |), v AS (
       |  SELECT us // $dayUs AS d,
       |    CASE WHEN next_purchase_us IS NOT NULL
       |          AND next_purchase_us <= us + $cartWindowUs
       |         THEN 1 ELSE 0 END AS converted
       |  FROM nxt WHERE event_type = 'view'
       |)
       |SELECT DATE '1970-01-01' + d::INT AS day,
       |  count(*)::BIGINT AS n_views,
       |  sum(converted)::BIGINT AS n_converted,
       |  (count(*) - sum(converted))::BIGINT AS n_abandoned,
       |  round(sum(converted)::DOUBLE / count(*), 4) AS conversion_rate
       |FROM v GROUP BY d ORDER BY day""".stripMargin

  private val hourUs = 3600L * 1000000

  /** q152: timed funnel — the deadline variant of q82: first view →
    * first click within 1 HOUR of that view → first purchase within
    * 24 HOURS of that click, per user, strictly ordered. Stage
    * deadlines change the semantics from "ever converted" to "converted
    * while the intent was live", which is what growth teams actually
    * track. Each stage is a per-user aggregate (|users|-bounded) joined
    * to the next event type with a time-band predicate — three tiny
    * equi-joins on user_id, never an event×event join.
    */
  def timedFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v0 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
    val c0 = e.filter(col("event_type") === "click")
      .join(v0, Seq("user_id"))
      .filter(col("us") > col("v_us") && col("us") <= col("v_us") + hourUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("c_us"))
    val p0 = e.filter(col("event_type") === "purchase")
      .join(c0, Seq("user_id"))
      .filter(col("us") > col("c_us") && col("us") <= col("c_us") + 24 * hourUs)
      .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
    val counts = v0.agg(count(lit(1)).as("n_view"))
      .crossJoin(c0.agg(count(lit(1)).as("n_click_1h")))
      .crossJoin(p0.agg(count(lit(1)).as("n_purchase_24h")))
    counts.select(
      col("n_view").cast("bigint").as("n_view"),
      col("n_click_1h").cast("bigint").as("n_click_1h"),
      col("n_purchase_24h").cast("bigint").as("n_purchase_24h"),
      round(col("n_click_1h").cast("double") / col("n_view"), 4).as("view_to_click"),
      round(col("n_purchase_24h").cast("double") / col("n_click_1h"), 4)
        .as("click_to_purchase"))
  }

  private val timedFunnelSql =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
       |), v0 AS (
       |  SELECT user_id, min(us) AS v_us FROM e WHERE event_type = 'view'
       |  GROUP BY user_id
       |), c0 AS (
       |  SELECT e.user_id, min(e.us) AS c_us
       |  FROM e JOIN v0 ON e.user_id = v0.user_id
       |  WHERE e.event_type = 'click'
       |    AND e.us > v0.v_us AND e.us <= v0.v_us + $hourUs
       |  GROUP BY e.user_id
       |), p0 AS (
       |  SELECT e.user_id, min(e.us) AS p_us
       |  FROM e JOIN c0 ON e.user_id = c0.user_id
       |  WHERE e.event_type = 'purchase'
       |    AND e.us > c0.c_us AND e.us <= c0.c_us + ${24 * hourUs}
       |  GROUP BY e.user_id
       |)
       |SELECT
       |  (SELECT count(*) FROM v0)::BIGINT AS n_view,
       |  (SELECT count(*) FROM c0)::BIGINT AS n_click_1h,
       |  (SELECT count(*) FROM p0)::BIGINT AS n_purchase_24h,
       |  round((SELECT count(*) FROM c0)::DOUBLE / (SELECT count(*) FROM v0), 4)
       |    AS view_to_click,
       |  round((SELECT count(*) FROM p0)::DOUBLE / (SELECT count(*) FROM c0), 4)
       |    AS click_to_purchase""".stripMargin

  /** q157: interval-union coverage — per day, how many microseconds had
    * AT LEAST ONE session open (the union length of overlapping session
    * intervals) next to the summed session time — the utilization /
    * billable-time metric interval overlap makes non-trivial. Sessions
    * are half-open [start, end+1) so a single-event session covers 1 µs;
    * split at midnight like q137. The sweep collapses points per
    * distinct timestamp first (no tie ordering at all), then one
    * cumulative window + lead(): a gap [t, next_t) counts as covered
    * iff the running session count is positive. Exact integers
    * throughout; partition-parallel by day.
    */
  def coverageTime(spark: SparkSession, dir: String): DataFrame = {
    val sessions = sessionize(spark, dir)
    val segs = sessions
      .select(col("start_us"), (col("end_us") + 1).as("end_ex"),
        explode(expr(s"sequence(start_us div $dayUs, (end_us) div $dayUs)")).as("d"))
      .select(col("d"),
        greatest(col("start_us"), col("d") * dayUs).as("s"),
        least(col("end_ex"), (col("d") + 1) * dayUs).as("e"))
    val points = segs.select(col("d"), col("s").as("t"), lit(1L).as("delta"))
      .unionByName(segs.select(col("d"), col("e").as("t"), lit(-1L).as("delta")))
      .groupBy(col("d"), col("t")).agg(sum(col("delta")).as("delta"))
    val w = Window.partitionBy(col("d")).orderBy(col("t"))
    val sweep = points
      .withColumn("running", sum(col("delta")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("next_t", lead(col("t"), 1).over(w))
      .withColumn("covered",
        when(col("running") > 0 && col("next_t").isNotNull,
          col("next_t") - col("t")).otherwise(0L))
    val perDay = sweep.groupBy(col("d"))
      .agg(sum(col("covered")).as("busy_us"))
    val mass = segs.groupBy(col("d")).agg(sum(col("e") - col("s")).as("session_us"),
      count(lit(1)).as("n_segments"))
    perDay.join(mass, Seq("d"))
      .select(expr("date_add(DATE '1970-01-01', CAST(d AS INT))").as("day"),
        col("n_segments").cast("bigint").as("n_segments"),
        col("busy_us").cast("bigint").as("busy_us"),
        col("session_us").cast("bigint").as("session_us"),
        round(col("session_us").cast("double") / col("busy_us"), 4)
          .as("avg_overlap"))
      .orderBy(col("day"))
  }

  private val coverageTimeSql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
       |), b AS (
       |  SELECT user_id, event_id, us,
       |    CASE WHEN lag(us) OVER w IS NULL THEN 1
       |         WHEN us - lag(us) OVER w > $sessionGapUs THEN 1
       |         ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |), s AS (
       |  SELECT user_id, us,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                   ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM b
       |), sess AS (
       |  SELECT min(us) AS start_us, max(us) + 1 AS end_ex
       |  FROM s GROUP BY user_id, session_id
       |), segs AS (
       |  SELECT unnest(generate_series(start_us // $dayUs, (end_ex - 1) // $dayUs)) AS d,
       |    start_us, end_ex
       |  FROM sess
       |), seg2 AS (
       |  SELECT d, greatest(start_us, d * $dayUs) AS s,
       |    least(end_ex, (d + 1) * $dayUs) AS e
       |  FROM segs
       |), points AS (
       |  SELECT d, t, sum(delta) AS delta FROM (
       |    SELECT d, s AS t, 1 AS delta FROM seg2
       |    UNION ALL
       |    SELECT d, e AS t, -1 AS delta FROM seg2)
       |  GROUP BY d, t
       |), sweep AS (
       |  SELECT d,
       |    CASE WHEN sum(delta) OVER (PARTITION BY d ORDER BY t
       |           ROWS UNBOUNDED PRECEDING) > 0
       |          AND lead(t) OVER (PARTITION BY d ORDER BY t) IS NOT NULL
       |         THEN lead(t) OVER (PARTITION BY d ORDER BY t) - t
       |         ELSE 0 END AS covered
       |  FROM points
       |), busy AS (
       |  SELECT d, sum(covered)::BIGINT AS busy_us FROM sweep GROUP BY d
       |), mass AS (
       |  SELECT d, sum(e - s)::BIGINT AS session_us,
       |    count(*)::BIGINT AS n_segments
       |  FROM seg2 GROUP BY d
       |)
       |SELECT DATE '1970-01-01' + busy.d::INT AS day,
       |  mass.n_segments, busy.busy_us, mass.session_us,
       |  round(mass.session_us::DOUBLE / busy.busy_us, 4) AS avg_overlap
       |FROM busy JOIN mass ON busy.d = mass.d
       |ORDER BY day""".stripMargin

  /** q161: session exit rates — for each event type, how often is it
    * the LAST event of a session (the Markov absorption/abandonment
    * signal that q104's transition matrix normalizes away)? Reuses
    * q81's sessionization sort order: the last-in-session flag is one
    * more window on the same (user, time) sort, so the whole query
    * still costs a single partition sort plus one constant-sized
    * aggregation.
    */
  def exitRates(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val tagged = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("brk",
        when(col("us") - lag(col("us"), 1).over(w) > sessionGapUs, 1)
          .when(lag(col("us"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("next_brk",
        coalesce(lead(col("brk"), 1).over(w), lit(1)))
    tagged.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("next_brk")).as("n_session_ends"))
      .select(col("event_type"), col("n_events").cast("bigint").as("n_events"),
        col("n_session_ends").cast("bigint").as("n_session_ends"),
        round(col("n_session_ends").cast("double") / col("n_events"), 4)
          .as("exit_rate"))
      .orderBy(col("event_type"))
  }

  private val exitRatesSql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
       |), b AS (
       |  SELECT user_id, event_id, event_type, us,
       |    CASE WHEN lag(us) OVER w IS NULL THEN 1
       |         WHEN us - lag(us) OVER w > $sessionGapUs THEN 1
       |         ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |), t AS (
       |  SELECT event_type,
       |    coalesce(lead(brk) OVER (PARTITION BY user_id ORDER BY us, event_id),
       |      1) AS next_brk
       |  FROM b
       |)
       |SELECT event_type, count(*)::BIGINT AS n_events,
       |  sum(next_brk)::BIGINT AS n_session_ends,
       |  round(sum(next_brk)::DOUBLE / count(*), 4) AS exit_rate
       |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q166: entry-page bounce rates — per session ENTRY event type:
    * session count, single-event-session (bounce) count, bounce rate.
    * q161's mirror (exits vs entries) on the same sessionization sort
    * order: one more window marks session heads, a per-session count
    * sizes them, and the aggregation is |event types| rows.
    */
  def entryBounce(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val tagged = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("brk",
        when(col("us") - lag(col("us"), 1).over(w) > sessionGapUs, 1)
          .when(lag(col("us"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sw = Window.partitionBy(col("user_id"), col("session_id"))
    tagged
      .withColumn("n_in_session", count(lit(1)).over(sw))
      .filter(col("brk") === 1) // session heads only
      .groupBy(col("event_type").as("entry_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_in_session") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .select(col("entry_type"), col("n_sessions").cast("bigint").as("n_sessions"),
        col("n_bounces").cast("bigint").as("n_bounces"),
        round(col("n_bounces").cast("double") / col("n_sessions"), 4)
          .as("bounce_rate"))
      .orderBy(col("entry_type"))
  }

  private val entryBounceSql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
       |), b AS (
       |  SELECT user_id, event_id, event_type, us,
       |    CASE WHEN lag(us) OVER w IS NULL THEN 1
       |         WHEN us - lag(us) OVER w > $sessionGapUs THEN 1
       |         ELSE 0 END AS brk
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |), s AS (
       |  SELECT user_id, event_id, event_type, us, brk,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                   ROWS UNBOUNDED PRECEDING) AS session_id
       |  FROM b
       |), t AS (
       |  SELECT event_type, brk,
       |    count(*) OVER (PARTITION BY user_id, session_id) AS n_in_session
       |  FROM s
       |)
       |SELECT event_type AS entry_type, count(*)::BIGINT AS n_sessions,
       |  sum(CASE WHEN n_in_session = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounces,
       |  round(sum(CASE WHEN n_in_session = 1 THEN 1 ELSE 0 END)::DOUBLE
       |        / count(*), 4) AS bounce_rate
       |FROM t WHERE brk = 1
       |GROUP BY entry_type ORDER BY entry_type""".stripMargin

  /** q170: segment-sliced funnel — q82's strictly-sequenced
    * view→click→purchase funnel broken out by customer market segment
    * (events enrich against the customer dimension on user_id, the
    * stream-static join's batch twin). Per-user stage relations are
    * O(|users|) so their joins are unhinted (user_id-partitioned, AQE
    * picks broadcast only when actually small); output is |segments|
    * rows with stage counts and rates.
    */
  def segmentFunnel(spark: SparkSession, dir: String): DataFrame = {
    val seg = Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("us") >= col("v_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("c_us"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("us") >= col("c_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .join(seg, Seq("user_id"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_view"),
        sum(when(col("c_us").isNotNull, 1L).otherwise(0L)).as("n_click"),
        sum(when(col("p_us").isNotNull, 1L).otherwise(0L)).as("n_purchase"))
      .select(col("segment"), col("n_view").cast("bigint").as("n_view"),
        col("n_click").cast("bigint").as("n_click"),
        col("n_purchase").cast("bigint").as("n_purchase"),
        round(col("n_purchase").cast("double") / col("n_view"), 4)
          .as("view_to_purchase"))
      .orderBy(col("segment"))
  }

  private val segmentFunnelSql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
      |), v AS (
      |  SELECT user_id, min(us) AS v_us FROM e
      |  WHERE event_type = 'view' GROUP BY user_id
      |), c AS (
      |  SELECT e.user_id, min(e.us) AS c_us
      |  FROM e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click' AND e.us >= v.v_us
      |  GROUP BY e.user_id
      |), p AS (
      |  SELECT e.user_id, min(e.us) AS p_us
      |  FROM e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase' AND e.us >= c.c_us
      |  GROUP BY e.user_id
      |)
      |SELECT cu.c_mktsegment AS segment,
      |  count(*)::BIGINT AS n_view,
      |  sum(CASE WHEN c.c_us IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_click,
      |  sum(CASE WHEN p.p_us IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
      |  round(sum(CASE WHEN p.p_us IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
      |        / count(*), 4) AS view_to_purchase
      |FROM v
      |LEFT JOIN c ON v.user_id = c.user_id
      |LEFT JOIN p ON v.user_id = p.user_id
      |JOIN customer cu ON v.user_id = cu.c_custkey
      |GROUP BY cu.c_mktsegment ORDER BY segment""".stripMargin

  /** q171: Kaplan–Meier retention curve — survival analysis over user
    * lifetimes (days between first and last event). Users whose last
    * event falls within 7 days of the corpus end are right-CENSORED
    * (still active), everyone else is a churn event. The estimator runs
    * on the lifetime-day level: at-risk counts from one cumulative
    * window, survival S(t) = Π(1 − dᵢ/nᵢ) realized as exp of an ordered
    * cumulative ln-sum so both engines accumulate identical operands in
    * identical order (the product hits exact 0 via an explicit
    * ruined-flag, never ln(0) — Spark's log(0) is NULL, not -inf).
    *
    * Scale: the only data-sized shuffle is the per-user min/max
    * aggregation; everything after runs on the |distinct lifetimes|
    * relation (bounded by the day span, not the corpus).
    */
  def kaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val perUser = days.groupBy(col("user_id"))
      .agg(min(col("d")).as("first_d"), max(col("d")).as("last_d"))
    val maxDay = days.agg(max(col("d")).as("max_d"))
    val byT = perUser.crossJoin(broadcast(maxDay))
      .select(datediff(col("last_d"), col("first_d")).cast("long").as("t"),
        (col("last_d") <= date_sub(col("max_d"), 7)).as("dead"))
      .groupBy(col("t"))
      .agg(sum(when(col("dead"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("dead"), 1L).otherwise(0L)).as("c"))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byT
      .withColumn("n_risk",
        sum(col("d") + col("c")).over(wAll) -
          coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      .withColumn("lnterm",
        when(col("d") > 0 && col("n_risk") > col("d"),
          log(col("n_risk") - col("d")) - log(col("n_risk")))
          .otherwise(lit(0.0)))
      .withColumn("ruined",
        sum(when(col("d") > 0 && col("n_risk") === col("d"), 1L)
          .otherwise(0L)).over(wCum))
      .withColumn("survival",
        when(col("ruined") > 0, lit(0.0))
          .otherwise(round(exp(sum(col("lnterm")).over(wCum)), 6)))
      .select(col("t").as("t_day"),
        col("n_risk").cast("bigint").as("n_at_risk"),
        col("d").cast("bigint").as("n_deaths"),
        col("c").cast("bigint").as("n_censored"),
        col("survival"))
      .orderBy(col("t_day"))
  }

  private val kaplanMeierSql =
    """WITH u AS (
      |  SELECT user_id, min(ts::DATE) AS first_d, max(ts::DATE) AS last_d
      |  FROM events GROUP BY user_id
      |), m AS (
      |  SELECT max(ts::DATE) AS max_d FROM events
      |), l AS (
      |  SELECT datediff('day', first_d, last_d)::BIGINT AS t,
      |    last_d <= max_d - INTERVAL 7 DAY AS dead
      |  FROM u CROSS JOIN m
      |), byt AS (
      |  SELECT t,
      |    sum(CASE WHEN dead THEN 1 ELSE 0 END)::BIGINT AS d,
      |    sum(CASE WHEN NOT dead THEN 1 ELSE 0 END)::BIGINT AS c
      |  FROM l GROUP BY t
      |), risk AS (
      |  SELECT t, d, c,
      |    sum(d + c) OVER () -
      |      coalesce(sum(d + c) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS n_risk
      |  FROM byt
      |), terms AS (
      |  SELECT t, d, c, n_risk,
      |    CASE WHEN d > 0 AND n_risk > d
      |         THEN ln(n_risk - d) - ln(n_risk) ELSE 0.0 END AS lnterm,
      |    CASE WHEN d > 0 AND n_risk = d THEN 1 ELSE 0 END AS ruin
      |  FROM risk
      |)
      |SELECT t AS t_day, n_risk::BIGINT AS n_at_risk, d::BIGINT AS n_deaths,
      |  c::BIGINT AS n_censored,
      |  CASE WHEN sum(ruin) OVER (ORDER BY t
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
      |       THEN 0.0
      |       ELSE round(exp(sum(lnterm) OVER (ORDER BY t
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) END
      |    AS survival
      |FROM terms ORDER BY t_day""".stripMargin

  /** q189: two-step path counts — q104's first-order transition counts
    * squared as a relation (n₂(a→c) = Σ_b n(a→b)·n(b→c)), reporting
    * each start type's two-step paths into 'purchase' and its share of
    * all two-step paths. The EXACT-integer formulation of two-step
    * Markov reachability: path counts multiply and sum as
    * decimal(38,0) (n² overflows int64 at cluster event counts), and
    * the single probability division happens at output — no float
    * matrix product whose row-sum order could differ across engines.
    *
    * Scale: the transition relation is |types|² (constant); the matrix
    * square is a self-join on the middle type — constant-sized algebra
    * after one linear pairing pass over the events.
    */
  def twoStepPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val t = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("a"), col("next_type").as("b"))
      .agg(count(lit(1)).as("n"))
    val t2 = t.select(col("a"), col("b").as("mid"), col("n").as("n1"))
      .join(t.select(col("a").as("mid"), col("b").as("c"), col("n").as("n2")),
        Seq("mid"))
      .groupBy(col("a"), col("c"))
      .agg(sum(col("n1").cast("decimal(38,0)") * col("n2")).as("paths"))
    t2.groupBy(col("a").as("start_type"))
      .agg(sum(when(col("c") === "purchase", col("paths")).otherwise(lit(0)))
        .as("paths_to_purchase"),
        sum(col("paths")).as("paths_total"))
      .select(col("start_type"),
        col("paths_to_purchase").cast("double").cast("bigint")
          .as("paths_to_purchase"),
        col("paths_total").cast("double").cast("bigint").as("paths_total"),
        round(col("paths_to_purchase").cast("double") /
          col("paths_total").cast("double"), 4).as("purchase_share"))
      .orderBy(col("start_type"))
  }

  private val twoStepPathsSql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
      |), p AS (
      |  SELECT event_type AS a,
      |    lead(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY us, event_id) AS b
      |  FROM e
      |), t AS (
      |  SELECT a, b, count(*)::BIGINT AS n FROM p
      |  WHERE b IS NOT NULL GROUP BY a, b
      |), t2 AS (
      |  SELECT x.a, y.b AS c, sum(x.n::HUGEINT * y.n) AS paths
      |  FROM t x JOIN t y ON x.b = y.a
      |  GROUP BY x.a, y.b
      |)
      |SELECT a AS start_type,
      |  sum(CASE WHEN c = 'purchase' THEN paths ELSE 0 END)::DOUBLE::BIGINT
      |    AS paths_to_purchase,
      |  sum(paths)::DOUBLE::BIGINT AS paths_total,
      |  round(sum(CASE WHEN c = 'purchase' THEN paths ELSE 0 END)::DOUBLE
      |        / sum(paths)::DOUBLE, 4) AS purchase_share
      |FROM t2 GROUP BY a ORDER BY start_type""".stripMargin

  /** q192: activity half-life — where in each user's lifetime does the
    * median event fall? A front-loaded ratio (≪ 0.5) means engagement
    * decays after onboarding; uniform activity sits at 0.5. Per user
    * (≥3 events, positive span): the median-event offset and total
    * span in exact integer micros; per first-event-week cohort the
    * EARLY-MASS RATIO is Σoffsets/Σspans — a ratio of integer sums,
    * one double division, never a float-per-user average.
    *
    * Scale: one per-user window pass (row_number + count on the same
    * sort) and one per-user aggregate; the cohort rollup is
    * |weeks|-sized.
    */
  def activityHalfLife(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val evs = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
    val perUser = evs
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("t0"), max(col("us")).as("t1"),
        max(col("n")).as("n"),
        // median event = ceil(n/2)-th in time order
        min(when(col("rn") * 2 >= col("n"), col("us"))).as("t_med"))
      .filter(col("n") >= 3 && col("t1") > col("t0"))
    perUser
      .withColumn("week", date_trunc("week", timestamp_micros(col("t0"))))
      .groupBy(col("week").cast("date").as("cohort_week"))
      .agg(count(lit(1)).cast("bigint").as("n_users"),
        sum(col("t_med") - col("t0")).as("off_us"),
        sum(col("t1") - col("t0")).as("span_us"))
      .select(col("cohort_week"), col("n_users"),
        round(col("off_us").cast("double") / col("span_us"), 4)
          .as("early_mass_ratio"))
      .orderBy(col("cohort_week"))
  }

  private val activityHalfLifeSql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      |), r AS (
      |  SELECT user_id, us,
      |    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM e
      |), pu AS (
      |  SELECT user_id, min(us) AS t0, max(us) AS t1, max(n) AS n,
      |    min(CASE WHEN rn * 2 >= n THEN us END) AS t_med
      |  FROM r GROUP BY user_id
      |)
      |SELECT date_trunc('week', make_timestamp(t0))::DATE AS cohort_week,
      |  count(*)::BIGINT AS n_users,
      |  round(sum(t_med - t0)::DOUBLE / sum(t1 - t0), 4) AS early_mass_ratio
      |FROM pu WHERE n >= 3 AND t1 > t0
      |GROUP BY cohort_week ORDER BY cohort_week""".stripMargin

  /** q194: transition dwell times — q104's Markov edges annotated with
    * HOW LONG each transition takes: per (from, to) event-type pair,
    * the count, mean gap, and exact-rank median gap at one-second
    * granularity. The timing layer product analytics puts on top of a
    * transition matrix. The median uses the value-domain cumulative
    * trick over the (pair, whole-second gap) relation — second
    * granularity keeps that domain bounded where raw micros would be
    * row-sized; the mean is a ratio of exact integer micro sums.
    *
    * Scale: one per-user lead() pass, one (pair, gap-second) groupBy,
    * windows over the bounded gap domain per constant-sized pair.
    */
  def transitionDwell(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("gap_us", lead(col("us"), 1).over(w) - col("us"))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("from_type"),
        col("next_type").as("to_type"),
        col("gap_us"), expr("gap_us div 1000000").as("gap_s"))
    val byV = gaps.groupBy(col("from_type"), col("to_type"), col("gap_s"))
      .agg(count(lit(1)).as("m"), sum(col("gap_us")).as("us_sum"))
    val wCum = Window.partitionBy(col("from_type"), col("to_type"))
      .orderBy(col("gap_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("from_type"), col("to_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byV
      .withColumn("cum", sum(col("m")).over(wCum))
      .withColumn("n", sum(col("m")).over(wAll))
      .withColumn("tot_us", sum(col("us_sum")).over(wAll))
      .groupBy(col("from_type"), col("to_type"))
      .agg(first(col("n")).cast("bigint").as("n_transitions"),
        round(first(col("tot_us")).cast("double") / first(col("n")) / 1e6, 4)
          .as("avg_gap_s"),
        min(when(col("cum") * 2 >= col("n"), col("gap_s")))
          .cast("bigint").as("p50_gap_s"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val transitionDwellSql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
      |), p AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER w AS to_type,
      |    lead(us) OVER w - us AS gap_us
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |), g AS (
      |  SELECT from_type, to_type, gap_us, gap_us // 1000000 AS gap_s
      |  FROM p WHERE to_type IS NOT NULL
      |), byv AS (
      |  SELECT from_type, to_type, gap_s,
      |    count(*)::BIGINT AS m, sum(gap_us)::BIGINT AS us_sum
      |  FROM g GROUP BY from_type, to_type, gap_s
      |), c AS (
      |  SELECT from_type, to_type, gap_s, m,
      |    sum(m) OVER (PARTITION BY from_type, to_type ORDER BY gap_s
      |                 ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(m) OVER (PARTITION BY from_type, to_type) AS n,
      |    sum(us_sum) OVER (PARTITION BY from_type, to_type) AS tot_us
      |  FROM byv
      |)
      |SELECT from_type, to_type, max(n)::BIGINT AS n_transitions,
      |  round(max(tot_us)::DOUBLE / max(n) / 1e6, 4) AS avg_gap_s,
      |  min(CASE WHEN cum * 2 >= n THEN gap_s END)::BIGINT AS p50_gap_s
      |FROM c GROUP BY from_type, to_type
      |ORDER BY from_type, to_type""".stripMargin

  /** q199: Markov steady-state of the event-type chain — where does a
    * user's long-run attention settle? Five synchronous power-iteration
    * rounds of π ← πP over q104's row-normalized transition matrix,
    * uniform init, states restricted to types WITH outgoing transitions
    * (edges into dangling types are dropped before normalizing, keeping
    * P stochastic so π remains a distribution without renormalization
    * hacks). The output also carries the EMPIRICAL long-run share (each
    * type's fraction of observed transition sources) — steady-state vs
    * observed is the drift signal this diagnostic exists for.
    *
    * Float-parity design: each π round sums a handful of π·p terms per
    * state; a plain SUM would be partition-order-dependent, so both
    * engines fold the terms in EXPLICIT from-state order (sorted
    * collect + left fold here, `list(... ORDER BY)` + `list_reduce`
    * in the oracle) — bit-identical IEEE sums, no rounding slack.
    *
    * Scale shape: the matrix is (event types)², a broadcast-sized
    * relation no matter the event volume — one linear lag() pass
    * reduces to it, and since that is data-size-invariant metadata it
    * is collected (SURVEY S9) and the five sweeps run as an exact
    * driver DP replaying the in-plan fold order bit-for-bit — the
    * q240/q301/q310 discipline. π entries exist only for states with
    * ≥1 incoming kept edge from a π-carrying source, exactly like the
    * former inner-join → groupBy chain.
    */
  def markovStationary(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("from"), col("event_type").as("to"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val sources = pairs.map(_._1).distinct
    val sourceSet = sources.toSet
    // drop edges into dangling (never-source) types, THEN normalize —
    // keeps P stochastic over the retained targets
    val kept = pairs.filter(r => sourceSet(r._2))
    val rowTot = kept.groupBy(_._1).map { case (f, rs) => f -> rs.map(_._3).sum }
    val prob = kept.map { case (f, t, n) =>
      (f, t) -> n.toDouble / rowTot(f)
    }.toMap
    var pi: Map[String, Double] = sources.map(_ -> 1.0 / sources.length).toMap
    for (_ <- 1 to 5)
      pi = kept.filter(r => pi.contains(r._1)).groupBy(_._2)
        .map { case (t, rs) =>
          t -> rs.sortBy(_._1).foldLeft(0.0)((acc, r) =>
            acc + pi(r._1) * prob((r._1, r._2)))
        }
    val srcN = pairs.groupBy(_._1).map { case (f, rs) => f -> rs.map(_._3).sum }
    val totN = srcN.values.sum
    // rounding stays a Spark `round` over the literal doubles (q301 note)
    import spark.implicits._
    pi.keys.toSeq.sorted.collect { case s if srcN.contains(s) =>
        (s, pi(s), srcN(s).toDouble / totN)
      }
      .toDF("state", "st", "sh")
      .select(col("state"), round(col("st"), 4).as("stationary"),
        round(col("sh"), 4).as("empirical_share"))
      .orderBy(col("state"))
  }

  private val markovStationarySql =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
      |), pr AS (
      |  SELECT event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS prev
      |  FROM e
      |), trans AS (
      |  SELECT prev AS f, event_type AS t, count(*) AS n
      |  FROM pr WHERE prev IS NOT NULL GROUP BY 1, 2
      |), states AS (
      |  SELECT DISTINCT f AS state FROM trans
      |), kept AS (
      |  SELECT tr.f, tr.t, tr.n FROM trans tr
      |  JOIN states s ON tr.t = s.state
      |), p AS (
      |  SELECT f, t, n::DOUBLE / sum(n) OVER (PARTITION BY f) AS prob
      |  FROM kept
      |), pi0 AS (
      |  SELECT state, 1.0 / (SELECT count(*) FROM states) AS pi FROM states
      |), pi1 AS (
      |  SELECT p.t AS state,
      |    list_reduce(list_prepend(0.0::DOUBLE, list(x.pi * p.prob ORDER BY p.f)),
      |      (a, b) -> a + b) AS pi
      |  FROM p JOIN pi0 x ON p.f = x.state GROUP BY p.t
      |), pi2 AS (
      |  SELECT p.t AS state,
      |    list_reduce(list_prepend(0.0::DOUBLE, list(x.pi * p.prob ORDER BY p.f)),
      |      (a, b) -> a + b) AS pi
      |  FROM p JOIN pi1 x ON p.f = x.state GROUP BY p.t
      |), pi3 AS (
      |  SELECT p.t AS state,
      |    list_reduce(list_prepend(0.0::DOUBLE, list(x.pi * p.prob ORDER BY p.f)),
      |      (a, b) -> a + b) AS pi
      |  FROM p JOIN pi2 x ON p.f = x.state GROUP BY p.t
      |), pi4 AS (
      |  SELECT p.t AS state,
      |    list_reduce(list_prepend(0.0::DOUBLE, list(x.pi * p.prob ORDER BY p.f)),
      |      (a, b) -> a + b) AS pi
      |  FROM p JOIN pi3 x ON p.f = x.state GROUP BY p.t
      |), pi5 AS (
      |  SELECT p.t AS state,
      |    list_reduce(list_prepend(0.0::DOUBLE, list(x.pi * p.prob ORDER BY p.f)),
      |      (a, b) -> a + b) AS pi
      |  FROM p JOIN pi4 x ON p.f = x.state GROUP BY p.t
      |), emp AS (
      |  SELECT f AS state, sum(n) AS src_n FROM trans GROUP BY f
      |)
      |SELECT pi5.state, round(pi5.pi, 4) AS stationary,
      |  round(emp.src_n::DOUBLE / (SELECT sum(src_n) FROM emp), 4)
      |    AS empirical_share
      |FROM pi5 JOIN emp ON pi5.state = emp.state
      |ORDER BY pi5.state""".stripMargin

  /** q211: propensity label + feature builder — the supervised-training
    * table an ML pipeline derives from the event log, with
    * POINT-IN-TIME correctness: features come ONLY from events at or
    * before the cutoff (7 days before the newest event), the label
    * ONLY from events after it (will this user purchase in the next
    * week?). Features per
    * user: event/purchase counts, integer-cents spend, distinct active
    * days, and recency in whole days at the cutoff — every one an
    * exact integer, so there is no float leakage between engines, and
    * no temporal leakage between feature and label windows (the bug
    * class PIT joins exist to prevent).
    *
    * Scale shape: one conditional-aggregation pass over the fact keyed
    * by user (features and label from the same scan), cutoff broadcast
    * as a 1-row build.
    */
  def propensityFeatures(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 24 * 3600 * 1000000
    val dayUs = 24L * 3600 * 1000000
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
    val mx = ev.agg(max(col("us")).as("mxus"))
    ev.crossJoin(broadcast(mx))
      .withColumn("cut", col("mxus") - weekUs)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("us") <= col("cut"), 1L).otherwise(0L)).as("f_events"),
        sum(when(col("us") <= col("cut") &&
          col("event_type") === "purchase", 1L).otherwise(0L))
          .as("f_purchases"),
        sum(when(col("us") <= col("cut"),
          round(col("value") * 100).cast("long")).otherwise(0L))
          .as("f_value_c"),
        count_distinct(when(col("us") <= col("cut"),
          (col("us") / lit(dayUs)).cast("long"))).as("f_active_days"),
        min(when(col("us") <= col("cut"),
          ((col("cut") - col("us")) / lit(dayUs)).cast("long")))
          .as("f_recency_days"),
        sum(when(col("us") > col("cut") &&
          col("event_type") === "purchase", 1L).otherwise(0L))
          .as("post_purchases"))
      .filter(col("f_events") > 0) // only users observable at the cutoff
      .select(col("user_id"),
        col("f_events").cast("bigint").as("f_events"),
        col("f_purchases").cast("bigint").as("f_purchases"),
        col("f_value_c").cast("bigint").as("f_value_c"),
        col("f_active_days").cast("bigint").as("f_active_days"),
        col("f_recency_days").cast("bigint").as("f_recency_days"),
        when(col("post_purchases") > 0, 1).otherwise(0).cast("int")
          .as("label_purchase"))
      .orderBy(col("user_id"))
  }

  private val propensityFeaturesSql =
    """WITH ev AS (
      |  SELECT user_id, event_type, value, epoch_us(ts) AS us FROM events
      |), c AS (
      |  SELECT max(us) - 604800000000 AS cut FROM ev
      |), agg AS (
      |  SELECT user_id,
      |    sum(CASE WHEN us <= (SELECT cut FROM c) THEN 1 ELSE 0 END)
      |      AS f_events,
      |    sum(CASE WHEN us <= (SELECT cut FROM c)
      |             AND event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS f_purchases,
      |    sum(CASE WHEN us <= (SELECT cut FROM c)
      |        THEN round(value * 100)::BIGINT ELSE 0 END) AS f_value_c,
      |    count(DISTINCT CASE WHEN us <= (SELECT cut FROM c)
      |        THEN us // 86400000000 END) AS f_active_days,
      |    min(CASE WHEN us <= (SELECT cut FROM c)
      |        THEN ((SELECT cut FROM c) - us) // 86400000000 END)
      |      AS f_recency_days,
      |    sum(CASE WHEN us > (SELECT cut FROM c)
      |             AND event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS post_purchases
      |  FROM ev GROUP BY user_id
      |)
      |SELECT user_id, f_events::BIGINT AS f_events,
      |  f_purchases::BIGINT AS f_purchases, f_value_c::BIGINT AS f_value_c,
      |  f_active_days::BIGINT AS f_active_days,
      |  f_recency_days::BIGINT AS f_recency_days,
      |  (CASE WHEN post_purchases > 0 THEN 1 ELSE 0 END)::INT
      |    AS label_purchase
      |FROM agg WHERE f_events > 0 ORDER BY user_id""".stripMargin

  /** q221: feature screening by exact AUC — for each q211 feature, the
    * probability a random positive outranks a random negative on that
    * feature alone (AUC = U/(n₁·n₀), the Mann–Whitney identity). This
    * is the first filter an ML team runs on a candidate feature table:
    * a feature with AUC ≈ 0.5 carries no signal, below 0.5 it ranks
    * backwards. Ties use average ranks, computed on the VALUE DOMAIN
    * with q172's 2×-scaled integer discipline: 2·avgrank = 2·cum_before
    * + m + 1 stays integral, 2·R₁ accumulates as exact integer sums,
    * U₂ = 2·R₁ − n₁(n₁+1), and the single division AUC = U₂/(2·n₁·n₀)
    * happens once at the end — bit-identical across engines.
    *
    * Scale shape: the feature table melts to (feature, value) pairs,
    * aggregates to the value domain (bounded by distinct feature
    * values, not users), and the rank algebra runs per feature over
    * that reduced relation.
    */
  def featureAuc(spark: SparkSession, dir: String): DataFrame = {
    val feats = propensityFeatures(spark, dir)
    val melted = feats.select(col("label_purchase").cast("long").as("y"),
      expr("""stack(5,
        |'f_events', f_events,
        |'f_purchases', f_purchases,
        |'f_value_c', f_value_c,
        |'f_active_days', f_active_days,
        |'f_recency_days', f_recency_days) AS (feature, v)""".stripMargin))
    val byV = melted.groupBy(col("feature"), col("v"))
      .agg(count(lit(1)).as("m"), sum(col("y")).as("pos"))
    val wCum = Window.partitionBy(col("feature")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byV
      .withColumn("cum", sum(col("m")).over(wCum))
      .withColumn("rank2", (col("cum") - col("m")) * 2 + col("m") + 1)
      .groupBy(col("feature"))
      .agg(sum(col("pos")).as("n1"),
        sum(col("m") - col("pos")).as("n0"),
        sum(col("pos") * col("rank2")).as("r1x2"))
      .select(col("feature"),
        col("n1").cast("bigint").as("n_pos"),
        col("n0").cast("bigint").as("n_neg"),
        round((col("r1x2") - col("n1") * (col("n1") + 1)).cast("double") /
          (col("n1") * col("n0") * 2), 4).as("auc"))
      .orderBy(col("feature"))
  }

  private val featureAucSql =
    """WITH ev AS (
      |  SELECT user_id, event_type, value, epoch_us(ts) AS us FROM events
      |), c AS (
      |  SELECT max(us) - 604800000000 AS cut FROM ev
      |), agg AS (
      |  SELECT user_id,
      |    sum(CASE WHEN us <= (SELECT cut FROM c) THEN 1 ELSE 0 END)
      |      AS f_events,
      |    sum(CASE WHEN us <= (SELECT cut FROM c)
      |             AND event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS f_purchases,
      |    sum(CASE WHEN us <= (SELECT cut FROM c)
      |        THEN round(value * 100)::BIGINT ELSE 0 END) AS f_value_c,
      |    count(DISTINCT CASE WHEN us <= (SELECT cut FROM c)
      |        THEN us // 86400000000 END) AS f_active_days,
      |    min(CASE WHEN us <= (SELECT cut FROM c)
      |        THEN ((SELECT cut FROM c) - us) // 86400000000 END)
      |      AS f_recency_days,
      |    sum(CASE WHEN us > (SELECT cut FROM c)
      |             AND event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS post_purchases
      |  FROM ev GROUP BY user_id
      |), feats AS (
      |  SELECT CASE WHEN post_purchases > 0 THEN 1 ELSE 0 END AS y,
      |    f_events, f_purchases, f_value_c, f_active_days, f_recency_days
      |  FROM agg WHERE f_events > 0
      |), melted AS (
      |  SELECT y, 'f_events' AS feature, f_events::BIGINT AS v FROM feats
      |  UNION ALL SELECT y, 'f_purchases', f_purchases FROM feats
      |  UNION ALL SELECT y, 'f_value_c', f_value_c FROM feats
      |  UNION ALL SELECT y, 'f_active_days', f_active_days FROM feats
      |  UNION ALL SELECT y, 'f_recency_days', f_recency_days FROM feats
      |), byv AS (
      |  SELECT feature, v, count(*) AS m, sum(y) AS pos
      |  FROM melted GROUP BY feature, v
      |), ranked AS (
      |  SELECT feature, v, m, pos,
      |    (sum(m) OVER (PARTITION BY feature ORDER BY v
      |       ROWS UNBOUNDED PRECEDING) - m) * 2 + m + 1 AS rank2
      |  FROM byv
      |)
      |SELECT feature, sum(pos)::BIGINT AS n_pos,
      |  sum(m - pos)::BIGINT AS n_neg,
      |  round((sum(pos * rank2) - sum(pos) * (sum(pos) + 1))::DOUBLE
      |    / (sum(pos) * sum(m - pos) * 2), 4) AS auc
      |FROM ranked GROUP BY feature ORDER BY feature""".stripMargin

  /** q227: calibration curve + Brier-score decomposition for the q211
    * propensity label — the model-eval counterpart to q221's AUC
    * (discrimination): reliability asks whether predicted probabilities
    * MEAN what they say. A deterministic fixed-denominator score
    * p̂ = min(5·f_purchases + f_active_days, 20)/20 is binned into
    * deciles; each bin reports mean predicted vs observed rate plus its
    * reliability / resolution term, so Brier = Σrel − Σres + ō(1−ō)
    * closes (Murphy 1973 decomposition — pinned by the spec).
    *
    * Every quantity is a ratio of exact BIGINTs (the score's fixed /20
    * denominator keeps Σp̂ an integer sum), so parity needs no ordered
    * folds at all. Scale shape: one per-user aggregation (q211) then a
    * 10-row bin rollup with a broadcast 1-row total.
    */
  def calibrationBins(spark: SparkSession, dir: String): DataFrame = {
    val binned = propensityFeatures(spark, dir)
      .select(
        least(col("f_purchases") * 5 + col("f_active_days"), lit(20L))
          .as("raw20"),
        col("label_purchase").cast("long").as("y"))
      .withColumn("bin", least(floor(col("raw20") / 2), lit(9L)).cast("int"))
    val tot = binned.agg(count(lit(1)).as("n_all"), sum(col("y")).as("pos_all"))
    binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_b"), sum(col("y")).as("pos_b"),
        sum(col("raw20")).as("s20"))
      .crossJoin(broadcast(tot))
      .withColumn("md", col("s20").cast("double") / (col("n_b") * 20))
      .withColumn("od", col("pos_b").cast("double") / col("n_b"))
      .withColumn("bd", col("pos_all").cast("double") / col("n_all"))
      .select(col("bin"),
        col("n_b").cast("bigint").as("n_users"),
        col("pos_b").cast("bigint").as("n_pos"),
        round(col("md"), 6).as("mean_pred"),
        round(col("od"), 6).as("obs_rate"),
        round(col("n_b") * (col("md") - col("od")) * (col("md") - col("od"))
          / col("n_all"), 6).as("rel_term"),
        round(col("n_b") * (col("od") - col("bd")) * (col("od") - col("bd"))
          / col("n_all"), 6).as("res_term"))
      .orderBy(col("bin"))
  }

  /** q240: absorbing-Markov absorption analysis — q104's transition
    * matrix with `purchase` declared absorbing, asking the question
    * funnels can't: starting from each event type, what is the
    * probability of EVER reaching purchase within 1, 2, 4, 8 steps?
    * Computed as 8 unrolled matrix-vector products a_{k+1} = Q·a_k
    * (absorbing row pinned at 1), the truncated fundamental-matrix
    * series — no inversion, each step one tiny join + rollup.
    *
    * Parity engineering: each per-state Σ_t P(s,t)·a_k(t) is an
    * ORDERED fold — terms are collected, sorted by target type, and
    * reduced left-to-right (Spark `aggregate` over `array_sort`;
    * DuckDB `list_reduce` over `list(... ORDER BY t)` with a prepended
    * 0.0) — so both engines execute the identical IEEE op sequence and
    * unordered-float-sum drift cannot exist (the kaplanMeier/q171
    * discipline applied to linear algebra).
    *
    * Scale shape: the fact table reduces to the |types|² matrix in one
    * lag + rollup pass; that is data-size-invariant metadata, so it is
    * collected (SURVEY S9) and the 8 iterations run as an exact
    * driver-side DP — the q301/q306/q310 discipline (measured r10: the
    * join-chain formulation cost 98 AQE jobs / 7.7 s on a 25-cell
    * problem; → <1 s) — replaying the former in-plan fold order
    * bit-for-bit. Iteration count is a constant of the QUERY, not the
    * data.
    */
  def absorptionProbs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val pairCounts = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("s"), col("event_type").as("t"))
      .agg(count(lit(1)).as("n"))
      .collect()
    val pairs = pairCounts.map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)))
    val outTot = pairs.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._3).sum }
    // absorbing: purchase keeps no outgoing mass
    val trans = pairs.collect { case (s, t, n) if s != "purchase" =>
      (s, t, n.toDouble / outTot(s))
    }
    val states = (trans.map(_._1).distinct :+ "purchase").distinct.toSeq
    var prob: Map[String, Double] =
      states.map(s => s -> (if (s == "purchase") 1.0 else 0.0)).toMap
    val snaps = scala.collection.mutable.Map.empty[Int, Map[String, Double]]
    for (k <- 1 to 8) {
      // per-source fold of p·prob over targets in ascending t order —
      // targets outside the state set drop (the former inner join)
      val folded = trans.filter(r => prob.contains(r._2)).groupBy(_._1)
        .map { case (s, rs) =>
          s -> rs.sortBy(_._2).foldLeft(0.0)((acc, r) => acc + r._3 * prob(r._2))
        }
      prob = states.map(s =>
        s -> (if (s == "purchase") 1.0 else folded.getOrElse(s, 0.0))).toMap
      snaps(k) = prob
    }
    // rounding stays a Spark `round` over the literal doubles (q301 note)
    import spark.implicits._
    states.sorted.map(s =>
        (s, snaps(1)(s), snaps(2)(s), snaps(4)(s), snaps(8)(s)))
      .toDF("state", "r1", "r2", "r4", "r8")
      .select(col("state"),
        round(col("r1"), 6).as("p1"), round(col("r2"), 6).as("p2"),
        round(col("r4"), 6).as("p4"), round(col("r8"), 6).as("p8"))
      .orderBy(col("state"))
  }

  private val absorptionProbsSql = {
    def stepCte(k: Int): String =
      s"""a$k AS (
         |  SELECT st.state,
         |    CASE WHEN st.state = 'purchase' THEN 1.0
         |      ELSE coalesce(f.v, 0.0) END AS prob
         |  FROM states st LEFT JOIN (
         |    SELECT m.s,
         |      list_reduce(
         |        list_prepend(0.0, list(m.p * a.prob ORDER BY m.t)),
         |        (acc, x) -> acc + x) AS v
         |    FROM m JOIN a${k - 1} a ON a.state = m.t
         |    GROUP BY m.s) f ON f.s = st.state
         |)"""
    val steps = (1 to 8).map(stepCte).mkString(",\n").stripMargin
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
       |), pr AS (
       |  SELECT event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
       |      AS prev
       |  FROM e
       |), c AS (
       |  SELECT prev AS s, event_type AS t, count(*) AS n
       |  FROM pr WHERE prev IS NOT NULL GROUP BY 1, 2
       |), m AS (
       |  SELECT s, t,
       |    n::DOUBLE / sum(n) OVER (PARTITION BY s) AS p
       |  FROM c WHERE s <> 'purchase'
       |), states AS (
       |  SELECT DISTINCT s AS state FROM m
       |  UNION SELECT 'purchase'
       |), a0 AS (
       |  SELECT state,
       |    CASE WHEN state = 'purchase' THEN 1.0 ELSE 0.0 END AS prob
       |  FROM states
       |),
       |${steps}
       |SELECT st.state, round(a1.prob, 6) AS p1, round(a2.prob, 6) AS p2,
       |  round(a4.prob, 6) AS p4, round(a8.prob, 6) AS p8
       |FROM states st
       |JOIN a1 ON a1.state = st.state
       |JOIN a2 ON a2.state = st.state
       |JOIN a4 ON a4.state = st.state
       |JOIN a8 ON a8.state = st.state
       |ORDER BY st.state""".stripMargin
  }

  /** q236: SPRT sequential experiment monitor — Wald's sequential
    * probability-ratio test over the daily event stream, the "peek
    * continuously without p-hacking" machinery a growth team runs: H0
    * p = 0.20 vs H1 p = 0.25 purchase share per event, variants from
    * the portable md5 user bucket (q213's convention), boundaries
    * ±ln(19) (α = β = 0.05). Reports, per variant, the first boundary
    * crossing day and the decision the test had made by end of data.
    *
    * Parity: cumulative LLR = K·ln(p1/p0) + (N−K)·ln((1−p1)/(1−p0))
    * where K, N are exact integer window sums — the two ln constants
    * are computed ONCE in Scala and embedded as round-trip double
    * literals in BOTH engines' texts, so every llr value is the same
    * two-multiply-one-add over identical doubles; boundary comparisons
    * are therefore deterministic.
    *
    * Scale shape: map-side variant/day bucketing, one (variant, day)
    * aggregation, then windows over the tiny day relation. The test
    * statistic is O(days), not O(events).
    */
  def sprtMonitor(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(
        (md5U60(col("user_id").cast("string")) % 2).as("variant"),
        (unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("d"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val daily = ev.groupBy(col("variant"), col("d"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("k"))
    val w = Window.partitionBy(col("variant")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily
      .withColumn("ck", sum(col("k")).over(w))
      .withColumn("cn", sum(col("n")).over(w))
      .withColumn("llr",
        col("ck") * lit(sprtA) + (col("cn") - col("ck")) * lit(sprtB))
    val first = cum
      .filter(col("llr") >= sprtUp || col("llr") <= -sprtUp)
      .groupBy(col("variant")).agg(min(col("d")).as("cross_d"))
    val fin = cum.groupBy(col("variant")).agg(
      count(lit(1)).as("n_days"),
      max(col("cn")).as("n_trials"),
      max(col("ck")).as("n_success"),
      max_by(col("llr"), col("d")).as("llr_final"))
    val crossLlr = cum.select(col("variant").as("cv"), col("d"), col("llr"))
    fin.join(first, Seq("variant"), "left")
      .join(crossLlr,
        col("variant") === col("cv") && col("cross_d") === col("d"), "left")
      .select(
        col("variant").cast("int").as("variant"),
        col("n_days").cast("bigint").as("n_days"),
        col("n_trials").cast("bigint").as("n_trials"),
        col("n_success").cast("bigint").as("n_success"),
        // string, not DATE: an all-null date column (no crossing at small
        // sf) compares None-vs-NaT across engines' parquet/pandas paths
        coalesce(date_add(lit("1970-01-01").cast("date"),
          col("cross_d").cast("int")).cast("string"), lit("never"))
          .as("cross_day"),
        when(col("cross_d").isNull, "continue")
          .when(col("llr") >= sprtUp, "accept_h1")
          .otherwise("accept_h0").as("decision"),
        round(col("llr_final"), 6).as("final_llr"))
      .orderBy(col("variant"))
  }

  // SPRT constants, computed once and shared verbatim by both engines
  private val sprtA = math.log(0.25 / 0.2) // ln(p1/p0)
  private val sprtB = math.log(0.75 / 0.8) // ln((1-p1)/(1-p0))
  private val sprtUp = math.log(19.0) // ln((1-β)/α), α=β=0.05

  private val sprtMonitorSql =
    s"""WITH ev AS (
       |  SELECT ${md5U60Sql("user_id::VARCHAR")} % 2 AS variant,
       |    epoch_us(ts) // 86400000000 AS d,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
       |  FROM events
       |), daily AS (
       |  SELECT variant, d, count(*) AS n, sum(y) AS k
       |  FROM ev GROUP BY variant, d
       |), cum0 AS (
       |  SELECT variant, d,
       |    sum(k) OVER w AS ck, sum(n) OVER w AS cn
       |  FROM daily
       |  WINDOW w AS (PARTITION BY variant ORDER BY d
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |), cum AS (
       |  SELECT variant, d, ck, cn,
       |    ck * ($sprtA) + (cn - ck) * ($sprtB) AS llr
       |  FROM cum0
       |), first_x AS (
       |  SELECT variant, min(d) AS cross_d FROM cum
       |  WHERE llr >= $sprtUp OR llr <= -($sprtUp) GROUP BY variant
       |), fin AS (
       |  SELECT variant, count(*) AS n_days, max(cn) AS n_trials,
       |    max(ck) AS n_success, max_by(llr, d) AS llr_final
       |  FROM cum GROUP BY variant
       |)
       |SELECT fin.variant::INT AS variant, n_days::BIGINT AS n_days,
       |  n_trials::BIGINT AS n_trials, n_success::BIGINT AS n_success,
       |  coalesce((DATE '1970-01-01' + cross_d::INT)::VARCHAR, 'never')
       |    AS cross_day,
       |  CASE WHEN cross_d IS NULL THEN 'continue'
       |       WHEN c.llr >= $sprtUp THEN 'accept_h1'
       |       ELSE 'accept_h0' END AS decision,
       |  round(llr_final, 6) AS final_llr
       |FROM fin
       |LEFT JOIN first_x ON fin.variant = first_x.variant
       |LEFT JOIN cum c ON c.variant = fin.variant AND c.d = cross_d
       |ORDER BY fin.variant""".stripMargin

  /** q231: isotonic (PAV) recalibration of the q227 reliability curve —
    * the repair step that follows the diagnosis: pool-adjacent-violators
    * turns the per-bin observed rates into the best monotone fit, via
    * the minimax identity iso(i) = max_{j≤i} min_{k≥i} rate(j..k)
    * (Ayer et al. 1955), where rate(j..k) is the pooled positives/count
    * over the contiguous bin interval. Weighted PAV is exactly this
    * formula with interval sums — no iterative pooling needed.
    *
    * Scale shape: the ONLY distributed work is the per-user aggregation
    * and the 10-row bin rollup (one shuffle each); the quadratic
    * minimax runs on the ≤10-row bin relation (≤55 intervals, ≤550
    * triples) — bounded, broadcast, constant at any corpus size.
    * Interval rates are single IEEE divisions of exact BIGINT sums, so
    * min/max selection is cross-engine deterministic.
    */
  def isotonicCalibration(spark: SparkSession, dir: String): DataFrame = {
    val binned = propensityFeatures(spark, dir)
      .select(
        least(col("f_purchases") * 5 + col("f_active_days"), lit(20L))
          .as("raw20"),
        col("label_purchase").cast("long").as("y"))
      .withColumn("bin", least(floor(col("raw20") / 2), lit(9L)).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_b"), sum(col("y")).as("pos_b"))
    val wCum = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = binned
      .withColumn("cp", sum(col("pos_b")).over(wCum))
      .withColumn("cn", sum(col("n_b")).over(wCum))
    val ks = cum.select(col("bin").as("k"), col("cp").as("cpk"),
      col("cn").as("cnk"))
    val js = cum.select(col("bin").as("j"), (col("cp") - col("pos_b")).as("cpj"),
      (col("cn") - col("n_b")).as("cnj"))
    val intervals = ks.join(broadcast(js), col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("cpk") - col("cpj")).cast("double") /
          (col("cnk") - col("cnj"))).as("rate"))
    val innerMin = binned.select(col("bin").as("i"))
      .join(broadcast(intervals), col("j") <= col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("j")).agg(min(col("rate")).as("mr"))
    val iso = innerMin.groupBy(col("i")).agg(max(col("mr")).as("iso"))
    binned.join(broadcast(iso), col("bin") === col("i"))
      .select(col("bin"),
        col("n_b").cast("bigint").as("n_users"),
        col("pos_b").cast("bigint").as("n_pos"),
        round(col("pos_b").cast("double") / col("n_b"), 6).as("obs_rate"),
        round(col("iso"), 6).as("iso_rate"))
      .orderBy(col("bin"))
  }

  private val isotonicCalibrationSql =
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
      |), c AS (
      |  SELECT max(us) - 604800000000 AS cut FROM ev
      |), agg AS (
      |  SELECT user_id,
      |    sum(CASE WHEN us <= (SELECT cut FROM c) THEN 1 ELSE 0 END)
      |      AS f_events,
      |    sum(CASE WHEN us <= (SELECT cut FROM c)
      |             AND event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS f_purchases,
      |    count(DISTINCT CASE WHEN us <= (SELECT cut FROM c)
      |        THEN us // 86400000000 END) AS f_active_days,
      |    sum(CASE WHEN us > (SELECT cut FROM c)
      |             AND event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS post_purchases
      |  FROM ev GROUP BY user_id
      |), binned AS (
      |  SELECT least(least(f_purchases * 5 + f_active_days, 20) // 2, 9)::INT
      |      AS bin,
      |    CASE WHEN post_purchases > 0 THEN 1 ELSE 0 END AS y
      |  FROM agg WHERE f_events > 0
      |), b AS (
      |  SELECT bin, count(*) AS n_b, sum(y) AS pos_b
      |  FROM binned GROUP BY bin
      |), cum AS (
      |  SELECT bin, n_b, pos_b,
      |    sum(pos_b) OVER (ORDER BY bin) AS cp,
      |    sum(n_b) OVER (ORDER BY bin) AS cn
      |  FROM b
      |), iv AS (
      |  SELECT j.bin AS j, k.bin AS k,
      |    (k.cp - (j.cp - j.pos_b))::DOUBLE
      |      / (k.cn - (j.cn - j.n_b)) AS rate
      |  FROM cum j JOIN cum k ON j.bin <= k.bin
      |), mn AS (
      |  SELECT i.bin AS i, iv.j, min(iv.rate) AS mr
      |  FROM b i JOIN iv ON iv.j <= i.bin AND iv.k >= i.bin
      |  GROUP BY 1, 2
      |), iso AS (
      |  SELECT i, max(mr) AS iso FROM mn GROUP BY i
      |)
      |SELECT b.bin, b.n_b::BIGINT AS n_users, b.pos_b::BIGINT AS n_pos,
      |  round(b.pos_b::DOUBLE / b.n_b, 6) AS obs_rate,
      |  round(iso.iso, 6) AS iso_rate
      |FROM b JOIN iso ON iso.i = b.bin
      |ORDER BY b.bin""".stripMargin

  private val calibrationBinsSql =
    """WITH ev AS (
      |  SELECT user_id, event_type, value, epoch_us(ts) AS us FROM events
      |), c AS (
      |  SELECT max(us) - 604800000000 AS cut FROM ev
      |), agg AS (
      |  SELECT user_id,
      |    sum(CASE WHEN us <= (SELECT cut FROM c) THEN 1 ELSE 0 END)
      |      AS f_events,
      |    sum(CASE WHEN us <= (SELECT cut FROM c)
      |             AND event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS f_purchases,
      |    count(DISTINCT CASE WHEN us <= (SELECT cut FROM c)
      |        THEN us // 86400000000 END) AS f_active_days,
      |    sum(CASE WHEN us > (SELECT cut FROM c)
      |             AND event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS post_purchases
      |  FROM ev GROUP BY user_id
      |), binned AS (
      |  SELECT least(f_purchases * 5 + f_active_days, 20) AS raw20,
      |    CASE WHEN post_purchases > 0 THEN 1 ELSE 0 END AS y,
      |    least(least(f_purchases * 5 + f_active_days, 20) // 2, 9)::INT
      |      AS bin
      |  FROM agg WHERE f_events > 0
      |), tot AS (
      |  SELECT count(*) AS n_all, sum(y) AS pos_all FROM binned
      |), b AS (
      |  SELECT bin, count(*) AS n_b, sum(y) AS pos_b, sum(raw20) AS s20
      |  FROM binned GROUP BY bin
      |), d AS (
      |  SELECT bin, n_b, pos_b,
      |    s20::DOUBLE / (n_b * 20) AS md,
      |    pos_b::DOUBLE / n_b AS od,
      |    t.pos_all::DOUBLE / t.n_all AS bd,
      |    t.n_all AS n_all
      |  FROM b CROSS JOIN tot t
      |)
      |SELECT bin, n_b::BIGINT AS n_users, pos_b::BIGINT AS n_pos,
      |  round(md, 6) AS mean_pred,
      |  round(od, 6) AS obs_rate,
      |  round(n_b * (md - od) * (md - od) / n_all, 6) AS rel_term,
      |  round(n_b * (od - bd) * (od - bd) / n_all, 6) AS res_term
      |FROM d ORDER BY bin""".stripMargin

  /** q245: 90-day rolling distinct users (MAU) via mergeable HLL
    * sketches — the wide-window companion q146's scaladoc promises.
    * q146's exact cover-set expansion is linear in window width ×
    * |user-days|; at 90 days that 90× blowup dominates, and the
    * textbook scale path is DataSketches HLL: ONE ~16 KB sketch per
    * day (`hll_sketch_agg`, lgK=14 ⇒ ~0.8% typical error), then each
    * window unions its ≤90 daily sketches (`hll_union_agg`). The
    * expansion relation is |days| × 90 — calendar-sized metadata, not
    * data — so the plan's cost is one pass over events plus sketch
    * merges, independent of |users|.
    *
    * The raw estimate is a DataSketches artifact another engine cannot
    * replay, so this operator itself carries no SQL oracle; the GATED
    * form is [[hllMauChecked]] (q245), which folds the estimate into a
    * replayable verdict column. HllMauSpec additionally pins the
    * estimate against q146-style exact cover-set counts (<2% observed
    * at lgK=14) and pins determinism across runs — the sketch is a
    * deterministic fold of its input.
    */
  def hllMau(spark: SparkSession, dir: String): DataFrame = {
    // persisted so the spine branch reads the calendar-sized sketch
    // table instead of re-deriving it with a second events scan — the
    // "one pass over events" cost model holds in the plan, not just in
    // prose. Graft.Materialize releases it once the (|days|-row) result
    // is materialized.
    val daily = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      .persist()
    // day-spine expansion: day d's sketch covers windows ENDING on
    // d..d+89; keep only window ends that are observed days
    val spine = daily.select(col("day").as("w_end"))
    val out = daily
      .select(col("sk"), explode(sequence(col("day"),
        date_add(col("day"), 89))).as("w_end"))
      .join(broadcast(spine), Seq("w_end"))
      .groupBy(col("w_end"))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("mau_est"),
        count(lit(1)).cast("bigint").as("n_days_in_window"))
      .orderBy(col("w_end"))
    graft.Materialize.releasing(out, daily)
  }

  /** q245 (gated): [[hllMau]]'s estimate pinned to a driver-checkable
    * verdict. Output = (w_end, n_days_in_window, mau_exact,
    * within_bound) where `mau_exact` is the true 90-day rolling
    * distinct-user count (the q146 cover-set shape, exact and
    * DuckDB-replayable) and `within_bound` asserts the HLL estimate
    * lies inside a declared ±2.5% envelope of it (lgK=14 ⇒ ~0.8%
    * typical relative error, so 2.5% has wide margin). The oracle
    * computes the same exact counts and emits literal TRUE: a sketch
    * drifting out of envelope — a Spark/DataSketches behavior change,
    * the round-6 silent-upgrade failure class — flips the column and
    * fails the hash compare.
    *
    * Scale note: the exact cover-set twin (|user-days| × 90 expansion)
    * exists FOR THE GATE — it is the very cost the sketch path avoids.
    * Production callers use [[hllMau]] alone; this checked form is the
    * harness's replayable evidence that the cheap path tracks the
    * expensive truth.
    */
  def hllMauChecked(spark: SparkSession, dir: String): DataFrame = {
    val est = hllMau(spark, dir) // (w_end, mau_est, n_days_in_window)
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .persist() // read by the cover expansion and the observed-day spine
    val cover = pairs
      .select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 89))).as("w_end"))
      .distinct()
    val days = pairs.select(col("day").as("w_end")).distinct()
    val exact = cover.join(days, Seq("w_end"))
      .groupBy(col("w_end")).agg(count(lit(1)).as("mau_exact"))
    graft.Materialize.releasing(
      est.join(exact, Seq("w_end"))
        .select(col("w_end"), col("n_days_in_window"),
          col("mau_exact").cast("bigint").as("mau_exact"),
          (abs(col("mau_est") - col("mau_exact")) <=
            col("mau_exact") * lit(0.025)).as("within_bound"))
        .orderBy(col("w_end")),
      pairs)
  }

  private val hllMauCheckedSql =
    """WITH pairs AS (
      |  SELECT DISTINCT user_id, ts::DATE AS day FROM events
      |), cover AS (
      |  SELECT DISTINCT user_id, d2 FROM (
      |    SELECT user_id,
      |      unnest(generate_series(day, day + INTERVAL 89 DAY,
      |        INTERVAL 1 DAY))::DATE AS d2
      |    FROM pairs)
      |), days AS (
      |  SELECT DISTINCT day AS d2 FROM pairs
      |), mau AS (
      |  SELECT d2, count(*) AS mau_exact FROM cover JOIN days USING (d2)
      |  GROUP BY d2
      |), nd AS (
      |  SELECT d2, count(*) AS n_days FROM (
      |    SELECT unnest(generate_series(d0, d0 + INTERVAL 89 DAY,
      |        INTERVAL 1 DAY))::DATE AS d2
      |    FROM (SELECT DISTINCT day AS d0 FROM pairs)) x
      |  JOIN days USING (d2)
      |  GROUP BY d2
      |)
      |SELECT m.d2 AS w_end, n.n_days::BIGINT AS n_days_in_window,
      |  m.mau_exact::BIGINT AS mau_exact, TRUE AS within_bound
      |FROM mau m JOIN nd n ON m.d2 = n.d2
      |ORDER BY w_end""".stripMargin

  /** q249: audience-overlap matrix via THETA sketches — the sketch
    * family that closes the gap HLL leaves: theta supports set
    * INTERSECTION, so "how many users did segments A and B share" needs
    * only two ~2^lgK-entry summaries per segment pair instead of a
    * user-level join. One pass over events builds a sketch per
    * event_type ([[graft.functions.ThetaSketchAgg]], a live-object
    * TypedImperativeAggregate in the mold of Spark's own HllSketchAgg);
    * the pairwise matrix is |types|² over kilobyte summaries —
    * driver-trivial at any |users|.
    *
    * Gate pattern as q245: the query joins the sketch estimates to the
    * exact per-type and pairwise-overlap counts (DuckDB-replayable) and
    * emits a within_bound verdict — intersection error concentrates
    * relative to the SMALLER operand, so the envelope is
    * ±max(2.5% · least(|A|,|B|), 1). The exact twin (a user-level
    * self-join) is the cost the sketch path avoids; it runs here only
    * as the gate's evidence.
    */
  def thetaOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ThetaFunctions._
    val ev = Tables.events(spark, dir).select(col("event_type"), col("user_id"))
    val sk = ev.groupBy(col("event_type"))
      .agg(thetaSketchAgg(col("user_id"), 12).as("sk"))
      .withColumn("est_n", thetaEstimate(col("sk")))
    val skPairs = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"),
        col("est_n").as("est_a"))
      .join(sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"),
        col("est_n").as("est_b")), col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("est_a"), col("est_b"),
        thetaIntersectEstimate(col("sk_a"), col("sk_b")).as("est_inter"))
    val ut = ev.distinct().persist() // read by per-type counts and the pair join
    val perType = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
    val interExact = ut.select(col("event_type").as("type_a"), col("user_id"))
      .join(ut.select(col("event_type").as("type_b"), col("user_id")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("inter_exact"))
    Materialize.releasing(
      skPairs
        .join(perType.select(col("event_type").as("type_a"), col("n_users").as("users_a")),
          Seq("type_a"))
        .join(perType.select(col("event_type").as("type_b"), col("n_users").as("users_b")),
          Seq("type_b"))
        .join(interExact, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"),
          col("users_a").cast("bigint").as("users_a"),
          col("users_b").cast("bigint").as("users_b"),
          col("inter_exact").cast("bigint").as("inter_exact"),
          round(col("inter_exact") /
            (col("users_a") + col("users_b") - col("inter_exact")), 4).as("jaccard"),
          (abs(col("est_inter") - col("inter_exact")) <=
            greatest(least(col("users_a"), col("users_b")) * 0.025, lit(1.0)) &&
           abs(col("est_a") - col("users_a")) <= col("users_a") * 0.025 &&
           abs(col("est_b") - col("users_b")) <= col("users_b") * 0.025)
            .as("within_bound"))
        .orderBy(col("type_a"), col("type_b")),
      ut)
  }

  private val thetaOverlapSql =
    """WITH ut AS (
      |  SELECT DISTINCT event_type, user_id FROM events
      |), per_type AS (
      |  SELECT event_type, count(*)::BIGINT AS n_users FROM ut GROUP BY 1
      |), ix AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    count(*)::BIGINT AS inter_exact
      |  FROM ut a JOIN ut b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT ix.type_a, ix.type_b,
      |  pa.n_users AS users_a, pb.n_users AS users_b, ix.inter_exact,
      |  round(ix.inter_exact::DOUBLE
      |    / (pa.n_users + pb.n_users - ix.inter_exact), 4) AS jaccard,
      |  TRUE AS within_bound
      |FROM ix
      |JOIN per_type pa ON pa.event_type = ix.type_a
      |JOIN per_type pb ON pb.event_type = ix.type_b
      |ORDER BY type_a, type_b""".stripMargin

  /** q252: point-frequency estimation via a Count-Min sketch — the
    * frequency member of the sketch family (cardinality: HLL q245,
    * intersection: theta q249, quantiles: KLL q250, top-k: Misra–Gries
    * q143, membership: bloom q69). The sketch is d=4 hash rows × w=256
    * counters built in ONE pass as a plain groupBy — per-partition
    * partial aggregation IS the cell-wise CMS merge (cells are
    * counters; merge is +), so the shuffle moves at most d·w·|parts|
    * rows no matter how many events stream through, and per-shard /
    * per-day sketches roll up by the same addition. A point estimate is
    * min over the d counters the key hashes to; it never undercounts.
    *
    * Unlike the randomized DataSketches summaries (q245/q249/q250),
    * every counter here derives from the portable md5 60-bit hash, so
    * the DuckDB oracle replays the ENTIRE sketch and the estimates
    * hash-match exactly — the gate pins the estimate itself, not an
    * error envelope. Probes: the 15 heaviest users (exact count,
    * user_id tie-break); `overcount` exposes the collision mass
    * (~N/w per row at this scale) that min-over-rows suppresses.
    */
  def countMin(spark: SparkSession, dir: String): DataFrame = {
    val d = 4
    val w = 256
    val ev = Tables.events(spark, dir).select(col("user_id"))
    def bucket(i: Column, key: Column): Column =
      pmod(md5U60(concat(i.cast("string"), lit(":"), key.cast("string"))),
        lit(w.toLong))
    val rows = ev.select(col("user_id"),
        explode(sequence(lit(0), lit(d - 1))).as("i"))
      .select(col("i"), bucket(col("i"), col("user_id")).as("bucket"))
    val cms = rows.groupBy(col("i"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val probes = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id"))
      .limit(15)
    probes
      .select(col("user_id"), col("exact_n"),
        explode(sequence(lit(0), lit(d - 1))).as("i"))
      .withColumn("bucket", bucket(col("i"), col("user_id")))
      .join(broadcast(cms), Seq("i", "bucket"))
      .groupBy(col("user_id"), col("exact_n"))
      .agg(min(col("c")).as("est_n"))
      .select(col("user_id"),
        col("exact_n").cast("bigint").as("exact_n"),
        col("est_n").cast("bigint").as("est_n"),
        (col("est_n") - col("exact_n")).cast("bigint").as("overcount"),
        (col("est_n") >= col("exact_n")).as("sound"))
      .orderBy(col("exact_n").desc, col("user_id"))
  }

  private val countMinSql =
    s"""WITH hx AS (
      |  SELECT e.user_id, s.i,
      |    ${md5U60Sql("s.i::VARCHAR || ':' || e.user_id::VARCHAR")} % 256 AS bucket
      |  FROM events e
      |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) s
      |), cms AS (
      |  SELECT i, bucket, count(*)::BIGINT AS c FROM hx GROUP BY 1, 2
      |), probes AS (
      |  SELECT user_id, count(*)::BIGINT AS exact_n FROM events
      |  GROUP BY 1 ORDER BY exact_n DESC, user_id LIMIT 15
      |), pb AS (
      |  SELECT p.user_id, p.exact_n, s.i,
      |    ${md5U60Sql("s.i::VARCHAR || ':' || p.user_id::VARCHAR")} % 256 AS bucket
      |  FROM probes p
      |  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) s
      |)
      |SELECT pb.user_id, pb.exact_n,
      |  min(c.c)::BIGINT AS est_n,
      |  (min(c.c) - pb.exact_n)::BIGINT AS overcount,
      |  min(c.c) >= pb.exact_n AS sound
      |FROM pb JOIN cms c ON c.i = pb.i AND c.bucket = pb.bucket
      |GROUP BY pb.user_id, pb.exact_n
      |ORDER BY pb.exact_n DESC, pb.user_id""".stripMargin

  // lazy: the Seq references oracle-SQL vals declared later in the file;
  // a strict val would capture them as null at object init
  override lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("q81_sessionize", sessionize, Some(sessionizeSql)),
    QueryDef("q82_funnel", funnel, Some(funnelSql)),
    QueryDef("q83_cohort_retention", cohortRetention, Some(cohortRetentionSql)),
    QueryDef("q92_activity_streaks", activityStreaks, Some(activityStreaksSql)),
    QueryDef("q103_scd2_user_state", scd2UserState, Some(scd2UserStateSql), benchmark = true),
    QueryDef("q104_transition_matrix", transitionMatrix, Some(transitionMatrixSql)),
    QueryDef("q105_decayed_engagement", decayedEngagement, Some(decayedEngagementSql)),
    QueryDef("q106_conversion_latency", conversionLatency, Some(conversionLatencySql)),
    QueryDef("q120_ewma_anomaly", ewmaAnomaly, Some(ewmaAnomalySql)),
    QueryDef("q127_session_paths", sessionPaths, Some(sessionPathsSql)),
    QueryDef("q137_concurrency_peaks", concurrencyPeaks, Some(concurrencyPeaksSql)),
    QueryDef("q146_rolling_active_users", rollingActiveUsers, Some(rollingActiveUsersSql)),
    QueryDef("q147_abandoned_carts", abandonedCarts, Some(abandonedCartsSql)),
    QueryDef("q152_timed_funnel", timedFunnel, Some(timedFunnelSql)),
    QueryDef("q157_coverage_time", coverageTime, Some(coverageTimeSql)),
    QueryDef("q161_exit_rates", exitRates, Some(exitRatesSql)),
    QueryDef("q166_entry_bounce", entryBounce, Some(entryBounceSql)),
    QueryDef("q170_segment_funnel", segmentFunnel, Some(segmentFunnelSql)),
    QueryDef("q171_kaplan_meier", kaplanMeier, Some(kaplanMeierSql)),
    QueryDef("q189_two_step_paths", twoStepPaths, Some(twoStepPathsSql)),
    QueryDef("q192_activity_half_life", activityHalfLife,
      Some(activityHalfLifeSql)),
    QueryDef("q194_transition_dwell", transitionDwell,
      Some(transitionDwellSql)),
    QueryDef("q199_markov_stationary", markovStationary,
      Some(markovStationarySql)),
    QueryDef("q211_propensity_features", propensityFeatures,
      Some(propensityFeaturesSql)),
    QueryDef("q221_feature_auc", featureAuc, Some(featureAucSql)),
    QueryDef("q227_calibration_bins", calibrationBins,
      Some(calibrationBinsSql)),
    QueryDef("q231_isotonic_calibration", isotonicCalibration,
      Some(isotonicCalibrationSql)),
    QueryDef("q236_sprt_monitor", sprtMonitor, Some(sprtMonitorSql)),
    QueryDef("q240_absorption_probs", absorptionProbs,
      Some(absorptionProbsSql)),
    QueryDef("q245_hll_mau", hllMauChecked, Some(hllMauCheckedSql)),
    QueryDef("q249_theta_overlap", thetaOverlap, Some(thetaOverlapSql)),
    QueryDef("q252_count_min", countMin, Some(countMinSql)),
    QueryDef("q264_cuped", cuped, Some(cupedSql)),
    QueryDef("q267_jackknife_ratio", jackknifeRatio, Some(jackknifeRatioSql)),
    QueryDef("q269_bh_fdr", bhFdr, Some(bhFdrSql)),
    QueryDef("q273_two_proportion", twoProportionTest, Some(twoProportionTestSql)),
    QueryDef("q274_qini_curve", qiniCurve, Some(qiniCurveSql)),
    QueryDef("q277_shapley_attribution", shapleyAttribution, Some(shapleyAttributionSql)),
    QueryDef("q279_offline_policy_eval", offlinePolicyEval, Some(offlinePolicyEvalSql)),
    QueryDef("q281_diff_in_diff", diffInDiff, Some(diffInDiffSql)),
    QueryDef("q282_doubly_robust", doublyRobustEval, Some(doublyRobustEvalSql)),
    QueryDef("q296_decision_stump", decisionStump, Some(decisionStumpSql)),
    QueryDef("q297_entropy_rate", entropyRate, Some(entropyRateSql)),
    QueryDef("q301_markov_attribution", markovAttribution,
      Some(markovAttributionSql), benchmark = true),
    QueryDef("q303_meta_analysis", metaAnalysis, Some(metaAnalysisSql)),
    QueryDef("q304_mde_power", mdePower, Some(mdePowerSql)),
    QueryDef("q308_group_sequential", groupSequential,
      Some(groupSequentialSql)),
    QueryDef("q310_spectral_gap", spectralGap, Some(spectralGapSql)),
    QueryDef("q313_markov_order", markovOrderTest, Some(markovOrderTestSql)),
  )

  /** q313: Markov order test — is the event stream really order-1
    * (the assumption under q104/q199/q240/q297/q301/q310)? Compare
    * the conditional entropies H(X_{t+1}|X_t) and
    * H(X_{t+1}|X_t, X_{t−1}): their difference is the extra
    * information a second-order context carries
    * (= I(X_{t+1}; X_{t−1} | X_t)); near zero ⇒ the order-1 chain
    * family is a faithful model, large ⇒ sequences have longer
    * memory and sessionized features should widen. Also reports the
    * per-observation log-likelihood-ratio statistic
    * 2·N·ln2·(gain in bits)≈G² for the nested-model comparison.
    *
    * Scale shape: two lag windows over user-partitioned sequences
    * (one pass), reducing to |S|² and |S|³ cell tables; the entropy
    * algebra is ordered folds over those metadata relations.
    */
  def markovOrderTest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val seq3 = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type").as("c"),
        unix_micros(col("ts")).as("us"))
      .withColumn("b", lag(col("c"), 1).over(w))
      .withColumn("a", lag(col("c"), 2).over(w))
      .filter(col("a").isNotNull)
      .persist()
    def condEntropy(ctxCols: Seq[String]): DataFrame = {
      val cells = seq3.groupBy((ctxCols :+ "c").map(col): _*)
        .agg(count(lit(1)).as("n_xc"))
      val ctx = cells.groupBy(ctxCols.map(col): _*)
        .agg(sum(col("n_xc")).as("n_x"))
      cells.join(ctx, ctxCols)
        .withColumn("term", -(col("n_xc").cast("double"))
          * log(col("n_xc").cast("double") / col("n_x")))
        .agg((expr("aggregate(array_sort(collect_list(struct(" +
          (ctxCols :+ "c").mkString(", ") + ", term AS tm))), 0D," +
          "(acc, x) -> acc + x.tm)")
          / sum(col("n_xc"))).as("h"),
          sum(col("n_xc")).as("n_obs"))
    }
    val h1 = condEntropy(Seq("b"))
      .select(col("h").as("h_order1"), col("n_obs"))
    val h2 = condEntropy(Seq("a", "b")).select(col("h").as("h_order2"))
    Materialize.releasing(
      h1.crossJoin(h2)
        .withColumn("gain", col("h_order1") - col("h_order2"))
        .select(col("n_obs").cast("bigint").as("n_obs"),
          round(col("h_order1"), 6).as("h_cond_order1_nats"),
          round(col("h_order2"), 6).as("h_cond_order2_nats"),
          round(col("gain"), 6).as("order2_info_gain_nats"),
          round(col("gain") * col("n_obs") * 2, 4).as("g2_stat")),
      seq3)
  }

  private val markovOrderTestSql =
    """WITH s3 AS (
      |  SELECT c,
      |    lag(c, 1) OVER w AS b,
      |    lag(c, 2) OVER w AS a
      |  FROM (SELECT user_id, event_id, event_type AS c, epoch_us(ts) AS us
      |        FROM events)
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |), f AS (
      |  SELECT a, b, c FROM s3 WHERE a IS NOT NULL
      |), c1 AS (
      |  SELECT b, c, count(*)::BIGINT AS n_xc FROM f GROUP BY b, c
      |), x1 AS (
      |  SELECT b, sum(n_xc)::BIGINT AS n_x FROM c1 GROUP BY b
      |), h1 AS (
      |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(-(c1.n_xc::DOUBLE) * ln(c1.n_xc::DOUBLE / x1.n_x)
      |        ORDER BY c1.b, c1.c)), (p, q) -> p + q)
      |      / sum(c1.n_xc) AS h,
      |    sum(c1.n_xc)::BIGINT AS n_obs
      |  FROM c1 JOIN x1 USING (b)
      |), c2 AS (
      |  SELECT a, b, c, count(*)::BIGINT AS n_xc FROM f GROUP BY a, b, c
      |), x2 AS (
      |  SELECT a, b, sum(n_xc)::BIGINT AS n_x FROM c2 GROUP BY a, b
      |), h2 AS (
      |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list(-(c2.n_xc::DOUBLE) * ln(c2.n_xc::DOUBLE / x2.n_x)
      |        ORDER BY c2.a, c2.b, c2.c)), (p, q) -> p + q)
      |      / sum(c2.n_xc) AS h
      |  FROM c2 JOIN x2 USING (a, b)
      |)
      |SELECT h1.n_obs,
      |  round(h1.h, 6) AS h_cond_order1_nats,
      |  round(h2.h, 6) AS h_cond_order2_nats,
      |  round(h1.h - h2.h, 6) AS order2_info_gain_nats,
      |  round((h1.h - h2.h) * h1.n_obs * 2, 4) AS g2_stat
      |FROM h1 CROSS JOIN h2""".stripMargin

  /** q310: spectral gap / relaxation time of the event Markov chain —
    * the convergence-rate readout that completes the chain family
    * (q104 matrix, q199 stationary, q240 absorption, q297 entropy,
    * q301 removal): |λ₂| estimated by power iteration on the
    * stationary-deflated operator B = P − 1·πᵀ (π itself from 10
    * left-multiplication sweeps), relaxation time 1/(1−|λ₂|) and the
    * ε = 0.05 mixing-time bound t_rel·ln(1/ε). A gap collapsing
    * toward 0 means user behavior develops long-memory modes —
    * windowed metrics stop being representative. The estimate is the
    * operational power-iteration quantity ‖Bv₁₀‖/‖v₁₀‖ (exact when
    * the subdominant eigenvalue is real-dominant, the generic case
    * for these 5-state chains).
    *
    * Cross-engine determinism: P's cells are ratios of exact counts;
    * every Σ (matrix-vector products, norms) is an ordered fold over
    * the FULL dense grid (zero cells contribute their 0.0 terms, so
    * the IEEE chain is position-identical to the oracle's list
    * folds), and each iteration renormalizes through one identical
    * sqrt — 20 sweeps of bit-identical IEEE chains.
    *
    * Scale shape: one data pass funds the |S|² cell counts; that is
    * data-size-invariant metadata, so it is collected (SURVEY S9) and
    * the 20 sweeps run as an exact driver-side power iteration — the
    * q301/q306 discipline (measured r10: the join-chain formulation
    * cost 102 AQE jobs / 6.4 s wall on a 25-cell problem; → <1 s).
    * 10¹² events → a 5×5 eigenproblem, and a 5×5 eigenproblem must
    * not be 20 distributed joins.
    */
  def spectralGap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val cells = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("s"), col("event_type").as("t"))
      .agg(count(lit(1)).as("n"))
      .collect()
    val outTot = cells.groupBy(_.getString(0))
      .map { case (s, rs) => s -> rs.map(_.getLong(2)).sum }
    val pCell = cells.map(r => (r.getString(0), r.getString(1)) ->
      r.getLong(2).toDouble / outTot(r.getString(0))).toMap
    val states = outTot.keys.toSeq.sorted // ASCII: binary = lexicographic
    val nStates = states.size.toLong
    // dense grid incl. zero cells — every fold below walks it in full,
    // ascending key order, exactly like the former in-plan array_sort
    def p(s: String, t: String): Double = pCell.getOrElse((s, t), 0.0)
    // π: 10 sweeps of π' = πP (fold over s ascending per target t)
    var pi: Map[String, Double] = states.map(_ -> 1.0 / nStates).toMap
    for (_ <- 1 to 10)
      pi = states.map(t =>
        t -> states.foldLeft(0.0)((acc, s) => acc + p(s, t) * pi(s))).toMap
    // B = P − 1·πᵀ; v₀ = e_min − e_max; 10 sweeps with renormalization.
    // Degenerate empty chain (no consecutive events anywhere): nrm stays
    // 0.0, matching the former in-plan folds-over-empty behavior.
    def bv(s: String, t: String): Double = p(s, t) - pi(t)
    var v: Map[String, Double] = states.map(s =>
      s -> (if (s == states.head) 1.0
            else if (s == states.last) -1.0 else 0.0)).toMap
    var nrm = 0.0
    for (_ <- 1 to 10 if states.nonEmpty) {
      val vNext = states.map(s =>
        s -> states.foldLeft(0.0)((acc, t) => acc + bv(s, t) * v(t))).toMap
      nrm = math.sqrt(states.foldLeft(0.0)((acc, s) =>
        acc + vNext(s) * vNext(s)))
      v = states.map(s => s -> vNext(s) / nrm).toMap
    }
    // rounding stays a Spark `round` over the literal doubles (q301 note)
    import spark.implicits._
    Seq((nStates, nrm)).toDF("n_states", "nrm")
      .select(col("n_states"),
        round(col("nrm"), 6).as("lambda2_abs"),
        round(lit(1.0) - col("nrm"), 6).as("spectral_gap"),
        round(lit(1.0) / (lit(1.0) - col("nrm")), 4).as("relaxation_time"),
        round(log(lit(20.0)) / (lit(1.0) - col("nrm")), 4)
          .as("t_mix_bound_eps05"))
  }

  private val spectralGapSql = {
    def piCte(k: Int): String =
      s"""pi$k AS (
         |  SELECT d.t AS state,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(d.p * p.pi ORDER BY d.s)), (a, x) -> a + x) AS pi
         |  FROM dense d JOIN pi${k - 1} p ON p.state = d.s
         |  GROUP BY d.t
         |)"""
    def vCte(k: Int): String =
      s"""vr$k AS MATERIALIZED (
         |  SELECT b.s AS state,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list(b.bv * v.v ORDER BY b.t)), (a, x) -> a + x) AS v
         |  FROM b JOIN v${k - 1} v ON v.state = b.t
         |  GROUP BY b.s
         |), nrm$k AS (
         |  SELECT sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(v * v ORDER BY state)), (a, x) -> a + x)) AS nrm
         |  FROM vr$k
         |), v$k AS (
         |  SELECT state, v / nrm AS v FROM vr$k CROSS JOIN nrm$k
         |)"""
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
       |), pr AS (
       |  SELECT event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
       |      AS prev
       |  FROM e
       |), cnt AS (
       |  SELECT prev AS s, event_type AS t, count(*)::BIGINT AS n
       |  FROM pr WHERE prev IS NOT NULL GROUP BY 1, 2
       |), m AS (
       |  SELECT s, t, n::DOUBLE / sum(n) OVER (PARTITION BY s) AS p
       |  FROM cnt
       |), states AS MATERIALIZED (
       |  SELECT DISTINCT s AS state FROM m
       |), ns AS MATERIALIZED (
       |  SELECT count(*)::BIGINT AS k FROM states
       |), dense AS MATERIALIZED (
       |  SELECT a.state AS s, c.state AS t, coalesce(m.p, 0.0) AS p
       |  FROM states a CROSS JOIN states c
       |  LEFT JOIN m ON m.s = a.state AND m.t = c.state
       |), pi0 AS (
       |  SELECT state, 1.0 / (SELECT k FROM ns) AS pi FROM states
       |),
       |${(1 to 10).map(piCte).mkString(",\n")},
       |b AS MATERIALIZED (
       |  SELECT d.s, d.t, d.p - p.pi AS bv
       |  FROM dense d JOIN pi10 p ON p.state = d.t
       |), v0 AS (
       |  SELECT state,
       |    CAST(CASE WHEN state = (SELECT min(state) FROM states) THEN 1.0
       |      WHEN state = (SELECT max(state) FROM states) THEN -1.0
       |      ELSE 0.0 END AS DOUBLE) AS v
       |  FROM states
       |),
       |${(1 to 10).map(vCte).mkString(",\n")}
       |SELECT (SELECT k FROM ns) AS n_states,
       |  round(nrm, 6) AS lambda2_abs,
       |  round(1.0 - nrm, 6) AS spectral_gap,
       |  round(1.0 / (1.0 - nrm), 4) AS relaxation_time,
       |  round(ln(20.0) / (1.0 - nrm), 4) AS t_mix_bound_eps05
       |FROM nrm10""".stripMargin
  }

  /** q308: O'Brien–Fleming group-sequential monitoring — the
    * peeking-safe interim-analysis schedule (4 weekly looks, two-sided
    * α = 0.05 ⇒ boundaries 4.333 / 2.963 / 2.359 / 2.014) that lets an
    * experiment stop early for a real effect without inflating false
    * positives — the prospective counterpart to q236's SPRT. Each
    * look recomputes the purchase-value z on the data accumulated so
    * far; `crossed` marks boundary hits.
    *
    * Cross-engine determinism: per-look moments are exact integer
    * cents with DECIMAL(38,0)/HUGEINT squares (q119's discipline);
    * z and the boundary compare are fixed IEEE chains against literal
    * constants.
    *
    * Scale shape: the look spine is a 4-row broadcast; the one pass
    * over events lands in 8 (look × variant) moment cells via the
    * non-equi broadcast join (4-row build side — the q115-style
    * deliberate BNLJ). 10¹² events, 8 cells.
    */
  def groupSequential(spark: SparkSession, dir: String): DataFrame = {
    val looks = spark.createDataFrame(Seq(
      (1, "2024-01-08", 4.333), (2, "2024-01-15", 2.963),
      (3, "2024-01-22", 2.359), (4, "2024-01-29", 2.014)))
      .toDF("look", "cutoff", "boundary")
      .withColumn("cutoff", col("cutoff").cast("timestamp"))
    val purchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("ts"), pmod(col("user_id"), lit(2)).as("variant"),
        round(col("value") * 100, 0).cast("long").as("c"))
    val cells = purchases.join(broadcast(looks), col("ts") < col("cutoff"))
      .groupBy(col("look"), col("boundary"), col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("s2"))
      .withColumn("mean", col("s1").cast("double") / col("n"))
      .withColumn("vars",
        (col("n").cast("decimal(38,0)") * col("s2")
          - (col("s1").cast("decimal(38,0)") * col("s1"))
            .cast("decimal(38,0)")).cast("double")
          / (col("n").cast("double") * (col("n") - 1)))
    cells.groupBy(col("look"), col("boundary"))
      .agg(
        max(when(col("variant") === 0, col("n"))).cast("bigint").as("n0"),
        max(when(col("variant") === 1, col("n"))).cast("bigint").as("n1"),
        max(when(col("variant") === 1, col("mean"))).as("m1"),
        max(when(col("variant") === 0, col("mean"))).as("m0"),
        max(when(col("variant") === 1, col("vars"))).as("v1"),
        max(when(col("variant") === 0, col("vars"))).as("v0"))
      .withColumn("se_c", sqrt(col("v1") / col("n1") + col("v0") / col("n0")))
      .withColumn("z", (col("m1") - col("m0")) / col("se_c"))
      .select(col("look").cast("int").as("look"), col("n0"), col("n1"),
        round((col("m1") - col("m0")) / 100, 4).as("diff_usd"),
        round(col("se_c") / 100, 4).as("se_usd"),
        round(col("z"), 4).as("z"),
        col("boundary"),
        (abs(col("z")) > col("boundary")).as("crossed"))
      .orderBy(col("look"))
  }

  private val groupSequentialSql =
    """WITH looks(look, cutoff, boundary) AS (VALUES
      |  (1, TIMESTAMP '2024-01-08', 4.333),
      |  (2, TIMESTAMP '2024-01-15', 2.963),
      |  (3, TIMESTAMP '2024-01-22', 2.359),
      |  (4, TIMESTAMP '2024-01-29', 2.014)
      |), p AS (
      |  SELECT ts, (user_id % 2) AS variant,
      |    round(value * 100)::BIGINT AS c
      |  FROM events WHERE event_type = 'purchase'
      |), cells AS (
      |  SELECT l.look, l.boundary, p.variant,
      |    count(*)::BIGINT AS n, sum(p.c)::BIGINT AS s1,
      |    sum((p.c * p.c)::HUGEINT) AS s2
      |  FROM p JOIN looks l ON p.ts < l.cutoff
      |  GROUP BY 1, 2, 3
      |), cm AS (
      |  SELECT look, boundary, variant, n,
      |    s1::DOUBLE / n AS mean,
      |    (n::HUGEINT * s2 - s1::HUGEINT * s1)::DOUBLE
      |      / (n::DOUBLE * (n - 1)) AS vars
      |  FROM cells
      |), g AS (
      |  SELECT look, boundary,
      |    max(CASE WHEN variant = 0 THEN n END)::BIGINT AS n0,
      |    max(CASE WHEN variant = 1 THEN n END)::BIGINT AS n1,
      |    max(CASE WHEN variant = 1 THEN mean END) AS m1,
      |    max(CASE WHEN variant = 0 THEN mean END) AS m0,
      |    max(CASE WHEN variant = 1 THEN vars END) AS v1,
      |    max(CASE WHEN variant = 0 THEN vars END) AS v0
      |  FROM cm GROUP BY look, boundary
      |)
      |SELECT look::INT AS look, n0, n1,
      |  round((m1 - m0) / 100, 4) AS diff_usd,
      |  round(sqrt(v1 / n1 + v0 / n0) / 100, 4) AS se_usd,
      |  round((m1 - m0) / sqrt(v1 / n1 + v0 / n0), 4) AS z,
      |  boundary::DOUBLE AS boundary,
      |  (abs((m1 - m0) / sqrt(v1 / n1 + v0 / n0)) > boundary::DOUBLE)
      |    AS crossed
      |FROM g ORDER BY look""".stripMargin

  /** q303: DerSimonian–Laird random-effects meta-analysis — how a
    * platform POOLS one experiment measured across 7 independent
    * strata (sites/cohorts): per-stratum effect d_s ± SE_s, Cochran's
    * Q heterogeneity, I², the DL between-stratum variance τ², and
    * both fixed-effects (precision-weighted) and random-effects
    * (τ²-widened) pooled estimates with CIs. When I² is high the FE
    * estimate is overconfident — exactly the failure mode this
    * readout exists to expose.
    *
    * Cross-engine determinism: per-stratum moments are exact integer
    * cents with DECIMAL(38,0) squares (q119/q269 discipline); all
    * Σw-style reductions over the 7 strata are ordered folds.
    *
    * Scale shape: one conditional-aggregation pass over purchase
    * events → (stratum × variant) moment cells; everything after
    * runs on 14 rows of metadata.
    */
  def metaAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val units = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(round(col("value") * 100, 0).cast("long").as("y_c"),
        pmod(col("user_id"), lit(2)).as("variant"),
        dayofweek(col("ts")).as("stratum"))
    val cells = units.groupBy(col("stratum"), col("variant"))
      .agg(count(lit(1)).as("n"),
        sum(col("y_c")).as("s1"),
        sum((col("y_c") * col("y_c")).cast("decimal(38,0)")).as("s2"))
      .withColumn("mean", col("s1").cast("double") / col("n"))
      // n = 1 cells carry no variance information; null here, and the
      // stratum filter below drops any stratum with an unusable cell
      .withColumn("vars", when(col("n") > 1,
        (col("n").cast("decimal(38,0)") * col("s2")
          - (col("s1").cast("decimal(38,0)") * col("s1"))
            .cast("decimal(38,0)")).cast("double")
          / (col("n").cast("double") * (col("n") - 1))))
    val strata = cells.groupBy(col("stratum"))
      .agg(
        max(when(col("variant") === 1, col("mean"))).as("m1"),
        max(when(col("variant") === 0, col("mean"))).as("m0"),
        max(when(col("variant") === 1, col("vars"))).as("v1"),
        max(when(col("variant") === 0, col("vars"))).as("v0"),
        max(when(col("variant") === 1, col("n"))).as("n1"),
        max(when(col("variant") === 0, col("n"))).as("n0"))
      .filter(col("v1").isNotNull && col("v0").isNotNull
        && col("m1").isNotNull && col("m0").isNotNull)
      .withColumn("d", (col("m1") - col("m0")) / 100)
      .withColumn("se2",
        (col("v1") / col("n1") + col("v0") / col("n0")) / 10000)
      .withColumn("w", lit(1.0) / col("se2"))
    def fold(term: String) = expr(
      s"aggregate(array_sort(collect_list(struct(stratum, $term))), 0D," +
        "(acc, x) -> acc + x.t)")
    val pooled = strata
      .agg(count(lit(1)).cast("bigint").as("k"),
        fold("w AS t").as("sw"),
        fold("(w * d) AS t").as("swd"),
        fold("(w * w) AS t").as("sw2"),
        fold("(w * d * d) AS t").as("swd2"))
      .withColumn("fe", col("swd") / col("sw"))
      .withColumn("q", col("swd2") - col("swd") * col("swd") / col("sw"))
      .withColumn("tau2", greatest(lit(0.0),
        (col("q") - (col("k") - 1))
          / (col("sw") - col("sw2") / col("sw"))))
      .withColumn("i2", when(col("q") > 0, greatest(lit(0.0),
        (col("q") - (col("k") - 1)) / col("q"))).otherwise(0.0))
    val reWeights = strata.crossJoin(broadcast(pooled.select(col("tau2"))))
      .withColumn("wr", lit(1.0) / (col("se2") + col("tau2")))
      .agg(fold("wr AS t").as("swr"), fold("(wr * d) AS t").as("swrd"))
      .withColumn("re", col("swrd") / col("swr"))
      .withColumn("re_se", sqrt(lit(1.0) / col("swr")))
    pooled.crossJoin(broadcast(reWeights))
      .select(col("k").as("n_strata"),
        round(col("fe"), 4).as("fixed_effect_usd"),
        round(col("q"), 4).as("cochran_q"),
        round(col("i2"), 4).as("i_squared"),
        round(col("tau2"), 6).as("tau_squared"),
        round(col("re"), 4).as("random_effect_usd"),
        round(col("re") - lit(1.96) * col("re_se"), 4).as("re_ci_lo"),
        round(col("re") + lit(1.96) * col("re_se"), 4).as("re_ci_hi"))
  }

  private val metaAnalysisSql =
    """WITH tagged AS (
      |  SELECT round(value * 100)::BIGINT AS y_c,
      |    (user_id % 2) AS variant, dayofweek(ts) + 1 AS stratum
      |  FROM events WHERE event_type = 'purchase'
      |), cells AS (
      |  SELECT stratum, variant, count(*)::BIGINT AS n,
      |    sum(y_c)::BIGINT AS s1, sum((y_c * y_c)::HUGEINT) AS s2
      |  FROM tagged GROUP BY stratum, variant
      |), cm AS (
      |  SELECT stratum, variant, n,
      |    s1::DOUBLE / n AS mean,
      |    CASE WHEN n > 1 THEN
      |      (n::HUGEINT * s2 - s1::HUGEINT * s1)::DOUBLE
      |        / (n::DOUBLE * (n - 1)) END AS vars
      |  FROM cells
      |), strata AS (
      |  SELECT stratum,
      |    (max(CASE WHEN variant = 1 THEN mean END)
      |      - max(CASE WHEN variant = 0 THEN mean END)) / 100 AS d,
      |    (max(CASE WHEN variant = 1 THEN vars END)
      |        / max(CASE WHEN variant = 1 THEN n END)
      |      + max(CASE WHEN variant = 0 THEN vars END)
      |        / max(CASE WHEN variant = 0 THEN n END)) / 10000 AS se2
      |  FROM cm GROUP BY stratum
      |  HAVING max(CASE WHEN variant = 1 THEN vars END) IS NOT NULL
      |    AND max(CASE WHEN variant = 0 THEN vars END) IS NOT NULL
      |    AND max(CASE WHEN variant = 1 THEN mean END) IS NOT NULL
      |    AND max(CASE WHEN variant = 0 THEN mean END) IS NOT NULL
      |), sw AS (
      |  SELECT stratum, d, se2, 1.0 / se2 AS w FROM strata
      |), pooled AS (
      |  SELECT count(*)::BIGINT AS k,
      |    list_reduce(list(w ORDER BY stratum), (a, b) -> a + b) AS sw,
      |    list_reduce(list(w * d ORDER BY stratum), (a, b) -> a + b) AS swd,
      |    list_reduce(list(w * w ORDER BY stratum), (a, b) -> a + b) AS sw2,
      |    list_reduce(list(w * d * d ORDER BY stratum), (a, b) -> a + b)
      |      AS swd2
      |  FROM sw
      |), pd AS (
      |  SELECT k, sw, swd, sw2, swd2,
      |    swd / sw AS fe,
      |    swd2 - swd * swd / sw AS q,
      |    greatest(0.0, (swd2 - swd * swd / sw - (k - 1))
      |      / (sw - sw2 / sw)) AS tau2,
      |    CASE WHEN swd2 - swd * swd / sw > 0 THEN
      |      greatest(0.0, (swd2 - swd * swd / sw - (k - 1))
      |        / (swd2 - swd * swd / sw)) ELSE 0.0 END AS i2
      |  FROM pooled
      |), re AS (
      |  SELECT
      |    list_reduce(list(1.0 / (s.se2 + p.tau2) ORDER BY s.stratum),
      |      (a, b) -> a + b) AS swr,
      |    list_reduce(list((1.0 / (s.se2 + p.tau2)) * s.d ORDER BY s.stratum),
      |      (a, b) -> a + b) AS swrd
      |  FROM sw s CROSS JOIN pd p
      |)
      |SELECT pd.k AS n_strata,
      |  round(pd.fe, 4) AS fixed_effect_usd,
      |  round(pd.q, 4) AS cochran_q,
      |  round(pd.i2, 4) AS i_squared,
      |  round(pd.tau2, 6) AS tau_squared,
      |  round(re.swrd / re.swr, 4) AS random_effect_usd,
      |  round(re.swrd / re.swr - 1.96 * sqrt(1.0 / re.swr), 4) AS re_ci_lo,
      |  round(re.swrd / re.swr + 1.96 * sqrt(1.0 / re.swr), 4) AS re_ci_hi
      |FROM pd CROSS JOIN re""".stripMargin

  /** q304: MDE / power sizing — the "how long must this test run"
    * readout (the prospective companion to q273's retrospective
    * test): per metric cell, the current standard error, the minimum
    * detectable effect at 80% power / 5% α (MDE = 2.8·SE, the
    * standard z-sum approximation), and the per-arm sample size
    * required to detect a 1%-of-mean lift. Exact integer-cent
    * moments; every output is a fixed IEEE chain.
    *
    * Scale shape: one conditional-aggregation pass into |event_type|
    * cells; sizing algebra on 5 rows.
    */
  def mdePower(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(col("event_type"),
        (pmod(col("user_id"), lit(2)) === 1).as("is_b"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(!col("is_b"), 1L).otherwise(0L)).as("n0"),
        sum(when(col("is_b"), 1L).otherwise(0L)).as("n1"),
        sum(col("c")).as("s1"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("s2"))
      .withColumn("n", col("n0") + col("n1"))
      .withColumn("mean_c", col("s1").cast("double") / col("n"))
      .withColumn("sd_c", sqrt(
        (col("n").cast("decimal(38,0)") * col("s2")
          - (col("s1").cast("decimal(38,0)") * col("s1"))
            .cast("decimal(38,0)")).cast("double")
          / (col("n").cast("double") * (col("n") - 1))))
      .withColumn("se_c",
        col("sd_c") * sqrt(lit(1.0) / col("n0") + lit(1.0) / col("n1")))
      .withColumn("target_c", col("mean_c") / 100)
    cells.select(col("event_type"),
        col("n0").cast("bigint").as("n0"),
        col("n1").cast("bigint").as("n1"),
        round(col("mean_c") / 100, 4).as("mean_usd"),
        round(col("se_c") / 100, 6).as("se_usd"),
        round(lit(2.8) * col("se_c") / 100, 6).as("mde80_usd"),
        round(lit(2.8) * col("se_c") / col("mean_c"), 6)
          .as("mde80_rel"),
        ceil(lit(2.0) * (lit(2.8) * col("sd_c") / col("target_c"))
          * (lit(2.8) * col("sd_c") / col("target_c")))
          .cast("bigint").as("n_per_arm_for_1pct"))
      .orderBy(col("event_type"))
  }

  private val mdePowerSql =
    """WITH cells AS (
      |  SELECT event_type,
      |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
      |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    sum(round(value * 100)::BIGINT)::BIGINT AS s1,
      |    sum((round(value * 100)::BIGINT * round(value * 100)::BIGINT)::HUGEINT)
      |      AS s2
      |  FROM events GROUP BY event_type
      |), m AS (
      |  SELECT event_type, n0, n1, n0 + n1 AS n,
      |    s1::DOUBLE / (n0 + n1) AS mean_c,
      |    sqrt(((n0 + n1)::HUGEINT * s2 - s1::HUGEINT * s1)::DOUBLE
      |      / ((n0 + n1)::DOUBLE * (n0 + n1 - 1))) AS sd_c
      |  FROM cells
      |), f AS (
      |  SELECT event_type, n0, n1, mean_c, sd_c,
      |    sd_c * sqrt(1.0 / n0 + 1.0 / n1) AS se_c,
      |    mean_c / 100 AS target_c
      |  FROM m
      |)
      |SELECT event_type, n0, n1,
      |  round(mean_c / 100, 4) AS mean_usd,
      |  round(se_c / 100, 6) AS se_usd,
      |  round(2.8 * se_c / 100, 6) AS mde80_usd,
      |  round(2.8 * se_c / mean_c, 6) AS mde80_rel,
      |  ceil(2.0 * (2.8 * sd_c / target_c) * (2.8 * sd_c / target_c))::BIGINT
      |    AS n_per_arm_for_1pct
      |FROM f ORDER BY event_type""".stripMargin

  /** q301: Markov removal-effect attribution — the data-driven
    * attribution model that completes the family (q111 last-touch,
    * q122 linear, q277 Shapley): build the journey Markov chain,
    * compute conversion probability from the empirical first-event
    * distribution, then REMOVE each channel (its transitions die, the
    * mass that would have flowed through it is lost) and re-compute;
    * removal effect R_c = 1 − P₋c/P and the normalized shares are the
    * attribution (Anderl et al. 2016). Four absorbing chains (full +
    * three removals), each unrolled 8 steps exactly like q240.
    *
    * Cross-engine determinism: transition probabilities are ratios of
    * exact counts, every Σ P·a and the final start-vector dot product
    * are ordered folds (ascending state/target key, ASCII so binary =
    * lexicographic), and all four chains share the identical literal
    * iteration depth.
    *
    * Scale shape: ONE data pass (the per-user lag window — `prev IS
    * NULL` ⟺ first event, so the transition counts and the
    * first-event distribution fall out of the same aggregation) funds
    * a ≤(|types|+1)·|types| count relation; that is DATA-SIZE-INVARIANT
    * metadata, so it is collected (SURVEY S9) and the 4 chains × 8
    * steps run as an exact driver-side DP — the q306 discipline:
    * 10¹² events → a 25-cell matrix problem, and a 25-cell matrix
    * problem must not be 32 distributed joins (measured r10: the
    * join-chain formulation cost 310 AQE jobs / 200 s of task time on
    * 20 cached rows; 15.9 → 0.73 s). Every driver-side fold replays
    * the former in-plan expression order bit-for-bit — terms sorted by
    * target/state key, foldLeft from 0.0 — and rounding stays a Spark
    * `round` over the literal result doubles, so the oracle hash is
    * unchanged.
    */
  def markovAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val pairCounts = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .groupBy(col("prev"), col("event_type").as("t"))
      .agg(count(lit(1)).as("n"))
      .collect()
    // first-event distribution: rows whose lag is null ARE the rn=1 rows
    val firsts = pairCounts.filter(_.isNullAt(0))
      .map(r => r.getString(1) -> r.getLong(2))
    val nUsers = firsts.map(_._2).sum
    val p0 = firsts.map { case (st, n) => st -> n.toDouble / nUsers }.toMap
    // transition matrix p(s→t) = n / Σ_t n, purchase absorbing (no rows out)
    val pairs = pairCounts.filter(r => !r.isNullAt(0))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val outTot = pairs.groupBy(_._1).map { case (s, rs) => s -> rs.map(_._3).sum }
    val trans = pairs.collect { case (s, t, n) if s != "purchase" =>
      (s, t, n.toDouble / outTot(s))
    }
    val statesAll = (trans.map(_._1).distinct :+ "purchase").distinct.toSeq
    def convProb(removed: Option[String]): Double = {
      val m = removed.fold(trans)(c => trans.filter(r => r._1 != c && r._2 != c))
      val st = removed.fold(statesAll)(c => statesAll.filter(_ != c))
      var prob: Map[String, Double] =
        st.map(s => s -> (if (s == "purchase") 1.0 else 0.0)).toMap
      for (_ <- 1 to 8) {
        // per-source fold of p·prob over targets in ascending t order —
        // targets outside the live state set drop (the former inner join)
        val folded = m.filter(r => prob.contains(r._2)).groupBy(_._1)
          .map { case (s, rs) =>
            s -> rs.sortBy(_._2).foldLeft(0.0)((acc, r) => acc + r._3 * prob(r._2))
          }
        prob = st.map(s =>
          s -> (if (s == "purchase") 1.0 else folded.getOrElse(s, 0.0))).toMap
      }
      // start-vector dot product, ascending state order
      firsts.filter { case (s, _) => prob.contains(s) }.sortBy(_._1)
        .foldLeft(0.0) { case (acc, (s, _)) => acc + p0(s) * prob(s) }
    }
    val channels = Seq("click", "view", "signup")
    val pFull = convProb(None)
    val effects = channels.map { c =>
      val pW = convProb(Some(c)); (c, pW, 1.0 - pW / pFull)
    }
    val sumEff = effects.sortBy(_._1)
      .foldLeft(0.0)((acc, e) => acc + e._3)
    // rounding stays a Spark `round` over the literal doubles so its
    // half-up-on-decimal-repr semantics are the engine's own, not a
    // hand-rolled replica
    import spark.implicits._
    effects.map { case (c, pW, re) =>
      (c, pFull, pW, re, re / sumEff)
    }.toDF("channel", "pf", "pw", "re", "sh")
      .select(col("channel"),
        round(col("pf"), 6).as("p_conv_full"),
        round(col("pw"), 6).as("p_conv_without"),
        round(col("re"), 6).as("removal_effect"),
        round(col("sh"), 6).as("attribution_share"))
      .orderBy(col("channel"))
  }

  private val markovAttributionSql = {
    def stepCte(tag: String, k: Int, mSrc: String, stSrc: String): String =
      s"""a$tag$k AS (
         |  SELECT st.state,
         |    CASE WHEN st.state = 'purchase' THEN 1.0
         |      ELSE coalesce(f.v, 0.0) END AS prob
         |  FROM $stSrc st LEFT JOIN (
         |    SELECT m.s,
         |      list_reduce(
         |        list_prepend(0.0, list(m.p * a.prob ORDER BY m.t)),
         |        (acc, x) -> acc + x) AS v
         |    FROM $mSrc m JOIN a$tag${k - 1} a ON a.state = m.t
         |    GROUP BY m.s) f ON f.s = st.state
         |)"""
    def chain(tag: String, mSrc: String, stSrc: String): String = {
      val init =
        s"""a${tag}0 AS (
           |  SELECT state,
           |    CASE WHEN state = 'purchase' THEN 1.0 ELSE 0.0 END AS prob
           |  FROM $stSrc
           |)"""
      val steps = (1 to 8).map(stepCte(tag, _, mSrc, stSrc)).mkString(",\n")
      val dot =
        s"""p$tag AS (
           |  SELECT list_reduce(
           |    list_prepend(0.0, list(v.p0 * a.prob ORDER BY a.state)),
           |    (acc, x) -> acc + x) AS p_conv
           |  FROM a${tag}8 a JOIN vstart v ON v.state = a.state
           |)"""
      Seq(init, steps, dot).mkString(",\n")
    }
    def removedCtes(c: String, tag: String): String =
      s"""m_$tag AS (SELECT * FROM m WHERE s <> '$c' AND t <> '$c'),
         |st_$tag AS (SELECT state FROM states WHERE state <> '$c'),
         |${chain(tag, s"m_$tag", s"st_$tag")}"""
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
       |), pr AS (
       |  SELECT event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
       |      AS prev
       |  FROM e
       |), cnt AS (
       |  SELECT prev AS s, event_type AS t, count(*)::BIGINT AS n
       |  FROM pr WHERE prev IS NOT NULL GROUP BY 1, 2
       |), m AS (
       |  SELECT s, t, n::DOUBLE / sum(n) OVER (PARTITION BY s) AS p
       |  FROM cnt WHERE s <> 'purchase'
       |), states AS (
       |  SELECT DISTINCT s AS state FROM m
       |  UNION SELECT 'purchase'
       |), firsts AS (
       |  SELECT event_type AS state, count(*)::BIGINT AS n_first FROM (
       |    SELECT event_type,
       |      row_number() OVER (PARTITION BY user_id ORDER BY us, event_id)
       |        AS rn
       |    FROM e) WHERE rn = 1 GROUP BY 1
       |), vstart AS (
       |  SELECT state, n_first::DOUBLE / (SELECT sum(n_first) FROM firsts)
       |    AS p0
       |  FROM firsts
       |),
       |${chain("F", "m", "states")},
       |${removedCtes("click", "C")},
       |${removedCtes("view", "V")},
       |${removedCtes("signup", "S")},
       |eff AS (
       |  SELECT ch.channel, pF.p_conv AS p_full, pc.p_conv AS p_without,
       |    1.0 - pc.p_conv / pF.p_conv AS removal_effect
       |  FROM (VALUES ('click'), ('view'), ('signup')) ch(channel)
       |  CROSS JOIN pF
       |  JOIN (
       |    SELECT 'click' AS channel, p_conv FROM pC
       |    UNION ALL SELECT 'view', p_conv FROM pV
       |    UNION ALL SELECT 'signup', p_conv FROM pS) pc
       |    USING (channel)
       |), tot AS (
       |  SELECT list_reduce(
       |    list_prepend(0.0, list(removal_effect ORDER BY channel)),
       |    (acc, x) -> acc + x) AS sum_eff
       |  FROM eff
       |)
       |SELECT channel,
       |  round(p_full, 6) AS p_conv_full,
       |  round(p_without, 6) AS p_conv_without,
       |  round(removal_effect, 6) AS removal_effect,
       |  round(removal_effect / sum_eff, 6) AS attribution_share
       |FROM eff CROSS JOIN tot ORDER BY channel""".stripMargin
  }

  /** q296: decision-stump split finding — the inner loop of every
    * tree/GBM trainer, run once: for the feature "events per user"
    * and label "high-value purchaser", scan every candidate threshold
    * and score the split by Gini impurity decrease
    * ΔG = G(parent) − (n_L/N)·G_L − (n_R/N)·G_R. The candidate scan is
    * the classic sorted-histogram trick: aggregate users onto the
    * DISTINCT feature-value spine, cumulative (n, positives) along it
    * fund every split's four cell counts at once. Top-5 thresholds
    * reported — what a feature-importance audit reads.
    *
    * Cross-engine determinism: all cell counts are exact integers via
    * one cumsum; each ΔG is a fixed chain of IEEE ops on those ints;
    * ranking ties break on the threshold value.
    *
    * Scale shape: users aggregate map-side onto the value spine
    * (bounded: distinct per-user event counts, ≤ max activity); the
    * cumsum window is a bounded-spine global (allowlisted), and every
    * threshold is scored in the same pass — 10¹² events, one shuffle,
    * |spine| window rows.
    */
  def decisionStump(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("f"),
        max(when(col("event_type") === "purchase" && col("value") > 180, 1L)
          .otherwise(0L)).as("y"))
    val spine = users.groupBy(col("f"))
      .agg(count(lit(1)).as("n_v"), sum(col("y")).as("p_v"))
    val wCumF = Window.orderBy(col("f"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = spine.agg(sum(col("n_v")).as("n"), sum(col("p_v")).as("p"))
    val scored = spine.crossJoin(broadcast(tot))
      .withColumn("nl", sum(col("n_v")).over(wCumF))
      .withColumn("pl", sum(col("p_v")).over(wCumF))
      .filter(col("nl") < col("n")) // right side must be non-empty
      .withColumn("nr", col("n") - col("nl"))
      .withColumn("pr", col("p") - col("pl"))
      .withColumn("g_parent",
        lit(1.0) - (col("p") / col("n")) * (col("p") / col("n"))
          - ((col("n") - col("p")) / col("n"))
            * ((col("n") - col("p")) / col("n")))
      .withColumn("g_l",
        lit(1.0) - (col("pl") / col("nl")) * (col("pl") / col("nl"))
          - ((col("nl") - col("pl")) / col("nl"))
            * ((col("nl") - col("pl")) / col("nl")))
      .withColumn("g_r",
        lit(1.0) - (col("pr") / col("nr")) * (col("pr") / col("nr"))
          - ((col("nr") - col("pr")) / col("nr"))
            * ((col("nr") - col("pr")) / col("nr")))
      .withColumn("gain", col("g_parent")
        - (col("nl") / col("n")) * col("g_l")
        - (col("nr") / col("n")) * col("g_r"))
    scored.orderBy(col("gain").desc, col("f"))
      .limit(5)
      .select(col("f").cast("bigint").as("threshold"),
        col("nl").cast("bigint").as("n_left"),
        col("pl").cast("bigint").as("pos_left"),
        col("nr").cast("bigint").as("n_right"),
        col("pr").cast("bigint").as("pos_right"),
        round(col("gain"), 6).as("gini_gain"))
  }

  private val decisionStumpSql =
    """WITH u AS (
      |  SELECT user_id, count(*)::BIGINT AS f,
      |    max(CASE WHEN event_type = 'purchase' AND value > 180
      |      THEN 1 ELSE 0 END)::BIGINT AS y
      |  FROM events GROUP BY user_id
      |), spine AS (
      |  SELECT f, count(*)::BIGINT AS n_v, sum(y)::BIGINT AS p_v
      |  FROM u GROUP BY f
      |), t AS (
      |  SELECT sum(n_v)::BIGINT AS n, sum(p_v)::BIGINT AS p FROM spine
      |), c AS (
      |  SELECT f, n, p,
      |    sum(n_v) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING)::BIGINT AS nl,
      |    sum(p_v) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING)::BIGINT AS pl
      |  FROM spine CROSS JOIN t
      |), s AS (
      |  SELECT f, nl, pl, n - nl AS nr, p - pl AS pr,
      |    (1.0 - (p / n) * (p / n) - ((n - p) / n) * ((n - p) / n))
      |    - (nl / n) * (1.0 - (pl / nl) * (pl / nl)
      |        - ((nl - pl) / nl) * ((nl - pl) / nl))
      |    - ((n - nl) / n) * (1.0 - ((p - pl) / (n - nl)) * ((p - pl) / (n - nl))
      |        - (((n - nl) - (p - pl)) / (n - nl))
      |          * (((n - nl) - (p - pl)) / (n - nl))) AS gain
      |  FROM c WHERE nl < n
      |)
      |SELECT f AS threshold, nl AS n_left, pl AS pos_left,
      |  nr AS n_right, pr AS pos_right,
      |  round(gain, 6) AS gini_gain
      |FROM s ORDER BY gain DESC, f LIMIT 5""".stripMargin

  /** q297: event-stream predictability via conditional entropy — the
    * information-theoretic readout on q104's transition matrix:
    * H(X_{t+1}|X_t) = −Σ_ij p(i,j)·ln(p(j|i)) says how predictable
    * the next event is given the current one; against the marginal
    * H(X) it yields the predictability gain (mutual information
    * between consecutive events). Per previous-state rows show WHERE
    * the stream is deterministic vs noisy; the readout row carries
    * the stream-level rate. Everything is ratios of exact transition
    * counts.
    *
    * Scale shape: transitions come from the q81-style per-user lag
    * (user-partitioned window, millions of small partitions), reduce
    * to a |states|² cell table, and the entropy algebra runs on those
    * ≤25 cells.
    */
  def entropyRate(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type").as("b"),
        unix_micros(col("ts")).as("us"))
      .withColumn("a", lag(col("b"), 1).over(w))
      .filter(col("a").isNotNull)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    val ra = trans.groupBy(col("a")).agg(sum(col("n_ab")).as("n_a"))
    val terms = trans.join(ra, Seq("a"))
      .withColumn("term",
        -(col("n_ab") / col("n_a")) * log(col("n_ab") / col("n_a")))
    val rows = terms.groupBy(col("a"))
      .agg(max(col("n_a")).as("n_a"),
        expr("array_sort(collect_list(struct(b, term)))").as("ds"))
      .withColumn("h_cond",
        expr("aggregate(ds, 0D, (acc, x) -> acc + x.term)"))
    val nTot = ra.agg(sum(col("n_a")).as("n_tot"))
    val margTerms = ra.crossJoin(broadcast(nTot))
      .withColumn("mterm",
        -(col("n_a") / col("n_tot")) * log(col("n_a") / col("n_tot")))
    val tot = rows.agg(
        expr("aggregate(array_sort(collect_list(struct(a, n_a, h_cond))), 0D," +
          "(acc, x) -> acc + x.n_a * x.h_cond)").as("h_num"))
      .crossJoin(margTerms.agg(
        max(col("n_tot")).as("n_tot"),
        expr("aggregate(array_sort(collect_list(struct(a, mterm))), 0D," +
          "(acc, x) -> acc + x.mterm)").as("h_marg")))
    rows.crossJoin(broadcast(tot))
      .select(col("a").as("prev_state"),
        col("n_a").cast("bigint").as("n_transitions"),
        round(col("h_cond"), 6).as("h_cond_nats"),
        round(col("h_num") / col("n_tot"), 6).as("entropy_rate_nats"),
        round(col("h_marg"), 6).as("h_marginal_nats"),
        round(col("h_marg") - col("h_num") / col("n_tot"), 6)
          .as("predictability_gain_nats"))
      .orderBy(col("prev_state"))
  }

  private val entropyRateSql =
    """WITH seq AS (
      |  SELECT user_id, event_type AS b,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS a
      |  FROM events
      |), trans AS (
      |  SELECT a, b, count(*)::BIGINT AS n_ab FROM seq
      |  WHERE a IS NOT NULL GROUP BY a, b
      |), ra AS (
      |  SELECT a, sum(n_ab)::BIGINT AS n_a FROM trans GROUP BY a
      |), terms AS (
      |  SELECT t.a, t.b, r.n_a,
      |    -(t.n_ab / r.n_a) * ln(t.n_ab / r.n_a) AS term
      |  FROM trans t JOIN ra r USING (a)
      |), rh AS (
      |  SELECT a, max(n_a)::BIGINT AS n_a,
      |    list_reduce(list(term ORDER BY b), (p, q) -> p + q) AS h_cond
      |  FROM terms GROUP BY a
      |), nt AS (
      |  SELECT sum(n_a)::BIGINT AS n_tot FROM ra
      |), mt AS (
      |  SELECT -(r.n_a / nt.n_tot) * ln(r.n_a / nt.n_tot) AS mterm, r.a
      |  FROM ra r CROSS JOIN nt
      |), tot AS (
      |  SELECT
      |    (SELECT list_reduce(list(n_a * h_cond ORDER BY a), (p, q) -> p + q)
      |     FROM rh) AS h_num,
      |    (SELECT list_reduce(list(mterm ORDER BY a), (p, q) -> p + q)
      |     FROM mt) AS h_marg,
      |    (SELECT n_tot FROM nt) AS n_tot
      |)
      |SELECT rh.a AS prev_state, rh.n_a AS n_transitions,
      |  round(rh.h_cond, 6) AS h_cond_nats,
      |  round(tot.h_num / tot.n_tot, 6) AS entropy_rate_nats,
      |  round(tot.h_marg, 6) AS h_marginal_nats,
      |  round(tot.h_marg - tot.h_num / tot.n_tot, 6)
      |    AS predictability_gain_nats
      |FROM rh CROSS JOIN tot ORDER BY prev_state""".stripMargin

  /** q264: CUPED variance reduction (Deng et al. 2013, "Improving the
    * Sensitivity of Online Controlled Experiments") — the standard
    * industrial A/B trick: adjust each user's experiment-period metric
    * Y by their PRE-period covariate X, Y' = Y − θ·(X − E[X]) with
    * θ = cov(X,Y)/var(X), which preserves the treatment-effect
    * estimate while shrinking its variance by the squared X–Y
    * correlation. Variant assignment is the deterministic user-id hash
    * bucket every experimentation platform uses (here pmod 2); the
    * period cut is the calendar midpoint of the fixture's Jan-2024
    * window. Output: per-variant user count, raw and adjusted metric
    * means, raw and adjusted variance, and the realized variance
    * reduction — the numbers an experiment readout page shows.
    *
    * Scale shape: ONE pass over events into a user-keyed partial-agg
    * groupBy (conditional sums — no separate pre/post scans), then θ
    * and E[X] ride along as a broadcast single-row cross join (never a
    * driver collect), then one variant-keyed aggregation of 2 rows.
    * Shuffles: user key, then variant key — both map-side combined.
    */
  def cuped(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-16").cast("timestamp")
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        coalesce(sum(when(col("ts") < cut, col("value"))), lit(0.0)).as("x"),
        coalesce(sum(when(col("ts") >= cut, col("value"))), lit(0.0)).as("y"))
      .withColumn("variant", pmod(col("user_id"), lit(2)).cast("int"))
    val theta = users.agg(
      (covar_pop(col("x"), col("y")) / var_pop(col("x"))).as("theta"),
      avg(col("x")).as("mean_x"))
    users.crossJoin(broadcast(theta))
      .withColumn("y_adj", col("y") - col("theta") * (col("x") - col("mean_x")))
      .groupBy(col("variant"))
      .agg(
        count(lit(1)).as("n_users"),
        round(avg(col("y")), 4).as("mean_y"),
        round(avg(col("y_adj")), 4).as("mean_y_adj"),
        round(var_pop(col("y")), 4).as("var_y"),
        round(var_pop(col("y_adj")), 4).as("var_y_adj"),
        round(lit(1.0) - var_pop(col("y_adj")) / var_pop(col("y")), 4)
          .as("var_reduction"))
      .orderBy(col("variant"))
  }

  /** q267: leave-one-bucket-out jackknife CI for a ratio metric
    * (revenue per click). Ratio metrics violate the iid assumption the
    * naive SE needs (numerator and denominator are correlated per
    * user), so experimentation platforms estimate their variance by
    * bucket jackknife: users hash into B buckets, each replicate
    * recomputes the ratio with one bucket deleted, and
    * SE² = (B−1)/B · Σ(rᵢ − r̄)². Complements q158 (delta method) and
    * q239 (bootstrap): three standard variance estimators, three
    * different compute shapes.
    *
    * Scale shape: one event pass into B bucket partial-sums; every
    * replicate is TOTAL − bucket (no second data pass — the classic
    * "leave-one-out from sufficient statistics" trick), so post-scan
    * cost is O(B) regardless of event count; totals ride along as a
    * broadcast single-row cross join.
    */
  def jackknifeRatio(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.events(spark, dir)
      .groupBy(pmod(col("user_id"), lit(20)).as("bkt"))
      .agg(
        coalesce(sum(when(col("event_type") === "purchase", col("value"))),
          lit(0.0)).as("sy"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("sn"))
    val t = b.agg(sum(col("sy")).as("ty"), sum(col("sn")).as("tn"),
      count(lit(1)).as("nb"))
    b.crossJoin(broadcast(t))
      // degenerate-replicate guard (ADVICE r8): a bucket holding ALL
      // clicks makes the denominator zero, and Spark's non-ANSI divide
      // (NULL) vs DuckDB may disagree on the poisoned replicate —
      // filter identically in both engines before the variance
      .filter(col("tn") - col("sn") > 0)
      .withColumn("ri", (col("ty") - col("sy")) / (col("tn") - col("sn")))
      .groupBy(col("ty"), col("tn"), col("nb"))
      .agg(var_pop(col("ri")).as("vr"))
      .select(
        round(col("ty") / col("tn"), 4).as("ratio"),
        col("nb").cast("bigint").as("n_buckets"),
        round(sqrt((col("nb") - 1) * col("vr")), 4).as("jk_se"),
        round(col("ty") / col("tn") - lit(1.96) * sqrt((col("nb") - 1) * col("vr")), 4)
          .as("ci_lo"),
        round(col("ty") / col("tn") + lit(1.96) * sqrt((col("nb") - 1) * col("vr")), 4)
          .as("ci_hi"))
  }

  private val jackknifeRatioSql =
    """WITH b AS (
      |  SELECT user_id % 20 AS bkt,
      |    coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0) AS sy,
      |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS sn
      |  FROM events GROUP BY 1
      |), t AS (
      |  SELECT sum(sy) AS ty, sum(sn) AS tn, count(*) AS nb FROM b
      |), r AS (
      |  SELECT ty, tn, nb, (ty - sy) / (tn - sn) AS ri
      |  FROM b CROSS JOIN t
      |  WHERE tn - sn > 0
      |), s AS (
      |  SELECT ty, tn, nb, var_pop(ri) AS vr FROM r GROUP BY 1, 2, 3
      |)
      |SELECT round(ty / tn, 4) AS ratio, nb::BIGINT AS n_buckets,
      |  round(sqrt((nb - 1) * vr), 4) AS jk_se,
      |  round(ty / tn - 1.96 * sqrt((nb - 1) * vr), 4) AS ci_lo,
      |  round(ty / tn + 1.96 * sqrt((nb - 1) * vr), 4) AS ci_hi
      |FROM s""".stripMargin

  /** q273: two-proportion z-test + Wilson intervals for conversion —
    * the canonical binary-outcome experiment readout (did the variant
    * move the high-value-purchase rate?): pooled-variance z on the converter
    * proportions, algebraic normal-tail p (same Lin approximation as
    * q269 so both engines agree bit-for-bit), and a Wilson 95% score
    * interval per variant (the interval that behaves at small n and
    * extreme rates, vs the Wald interval's collapse). Complements
    * q119/q264/q269 (means) with the proportions side of the A/B
    * toolkit.
    *
    * Scale shape: one user-keyed conditional aggregation (partial
    * combine) → per-variant counts → pure scalar algebra on a 2-row
    * table folded to one readout row.
    */
  def twoProportionTest(spark: SparkSession, dir: String): DataFrame = {
    val z = 1.96
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 180, 1L)
        .otherwise(0L)).as("conv"))
      .withColumn("variant", pmod(col("user_id"), lit(2)))
    def wilson(p: Column, n: Column, side: Int): Column =
      (p + lit(z * z) / (n * 2)
        + lit(side) * lit(z) * sqrt(p * (lit(1.0) - p) / n
          + lit(z * z) / (n * n * 4))) / (lit(1.0) + lit(z * z) / n)
    users.agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).cast("double").as("n0"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).cast("double").as("n1"),
        sum(when(col("variant") === 0, col("conv")).otherwise(0L))
          .cast("double").as("c0"),
        sum(when(col("variant") === 1, col("conv")).otherwise(0L))
          .cast("double").as("c1"))
      .withColumn("p0", col("c0") / col("n0"))
      .withColumn("p1", col("c1") / col("n1"))
      .withColumn("pp", (col("c0") + col("c1")) / (col("n0") + col("n1")))
      .withColumn("zstat", (col("p1") - col("p0"))
        / sqrt(col("pp") * (lit(1.0) - col("pp"))
          * (lit(1.0) / col("n0") + lit(1.0) / col("n1"))))
      .select(
        col("n0").cast("bigint").as("n_control"),
        col("n1").cast("bigint").as("n_treat"),
        col("c0").cast("bigint").as("conv_control"),
        col("c1").cast("bigint").as("conv_treat"),
        round(col("p0"), 4).as("rate_control"),
        round(col("p1"), 4).as("rate_treat"),
        round(col("zstat"), 4).as("z_stat"),
        round(least(lit(1.0), exp(lit(-0.717) * abs(col("zstat"))
          - lit(0.416) * col("zstat") * col("zstat"))), 6).as("p_value"),
        round(wilson(col("p0"), col("n0"), -1), 4).as("wilson_lo_control"),
        round(wilson(col("p0"), col("n0"), 1), 4).as("wilson_hi_control"),
        round(wilson(col("p1"), col("n1"), -1), 4).as("wilson_lo_treat"),
        round(wilson(col("p1"), col("n1"), 1), 4).as("wilson_hi_treat"))
  }

  private val twoProportionTestSql =
    """WITH u AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' AND value > 180 THEN 1 ELSE 0 END) AS conv,
      |    user_id % 2 AS variant
      |  FROM events GROUP BY user_id
      |), g AS (
      |  SELECT
      |    sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::DOUBLE AS n0,
      |    sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)::DOUBLE AS n1,
      |    sum(CASE WHEN variant = 0 THEN conv ELSE 0 END)::DOUBLE AS c0,
      |    sum(CASE WHEN variant = 1 THEN conv ELSE 0 END)::DOUBLE AS c1
      |  FROM u
      |), d AS (
      |  SELECT *, c0 / n0 AS p0, c1 / n1 AS p1,
      |    (c0 + c1) / (n0 + n1) AS pp
      |  FROM g
      |), zt AS (
      |  SELECT *,
      |    (p1 - p0) / sqrt(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1)) AS zstat
      |  FROM d
      |)
      |SELECT n0::BIGINT AS n_control, n1::BIGINT AS n_treat,
      |  c0::BIGINT AS conv_control, c1::BIGINT AS conv_treat,
      |  round(p0, 4) AS rate_control, round(p1, 4) AS rate_treat,
      |  round(zstat, 4) AS z_stat,
      |  round(least(1.0, exp(-0.717 * abs(zstat) - 0.416 * zstat * zstat)), 6)
      |    AS p_value,
      |  round((p0 + (1.96 * 1.96) / (2 * n0) - 1.96 * sqrt(p0 * (1.0 - p0) / n0
      |    + (1.96 * 1.96) / (4 * n0 * n0))) / (1.0 + (1.96 * 1.96) / n0), 4)
      |    AS wilson_lo_control,
      |  round((p0 + (1.96 * 1.96) / (2 * n0) + 1.96 * sqrt(p0 * (1.0 - p0) / n0
      |    + (1.96 * 1.96) / (4 * n0 * n0))) / (1.0 + (1.96 * 1.96) / n0), 4)
      |    AS wilson_hi_control,
      |  round((p1 + (1.96 * 1.96) / (2 * n1) - 1.96 * sqrt(p1 * (1.0 - p1) / n1
      |    + (1.96 * 1.96) / (4 * n1 * n1))) / (1.0 + (1.96 * 1.96) / n1), 4)
      |    AS wilson_lo_treat,
      |  round((p1 + (1.96 * 1.96) / (2 * n1) + 1.96 * sqrt(p1 * (1.0 - p1) / n1
      |    + (1.96 * 1.96) / (4 * n1 * n1))) / (1.0 + (1.96 * 1.96) / n1), 4)
      |    AS wilson_hi_treat
      |FROM zt""".stripMargin

  /** q274: Qini curve — uplift quality by score decile, the standard
    * audit of a targeting model: rank users by a score (here the
    * deterministic pre-period activity count, the covariate q264 uses),
    * cut into deciles, and per cumulative decile compare treated
    * conversions against control conversions scaled to the treated
    * exposure: qini(k) = Yt(k) − Yc(k)·Nt(k)/Nc(k). A useful score
    * front-loads uplift (steep early curve); a useless one tracks the
    * diagonal. Treatment is the user-id parity split, outcome the
    * q273 high-value-purchase conversion.
    *
    * Scale shape: ONE event pass into user-keyed (score, outcome)
    * aggregates; the user-domain decile cut routes through the
    * [[ScaledWindows]] 2-pass global ntile (range-partitioned, no
    * single-reducer sort — q200's discipline); the cumulative curve is
    * a 10-row window on the decile AGGREGATE.
    */
  def qiniCurve(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-16").cast("timestamp")
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < cut, 1L).otherwise(0L)).as("score"),
        max(when(col("event_type") === "purchase" && col("value") > 180
          && col("ts") >= cut, 1L).otherwise(0L)).as("y"))
      .withColumn("treated", pmod(col("user_id"), lit(2)))
    val deciled = ScaledWindows.ntile(users,
      Seq(col("score").desc, col("user_id")), 10, "decile")
    val perDecile = deciled.groupBy(col("decile"))
      .agg(
        sum(when(col("treated") === 1, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treated") === 0, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("treated") === 1, col("y")).otherwise(0L)).as("y_t"),
        sum(when(col("treated") === 0, col("y")).otherwise(0L)).as("y_c"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDecile
      .withColumn("cum_nt", sum(col("n_t")).over(wCum))
      .withColumn("cum_nc", sum(col("n_c")).over(wCum))
      .withColumn("cum_yt", sum(col("y_t")).over(wCum))
      .withColumn("cum_yc", sum(col("y_c")).over(wCum))
      .select(col("decile"),
        col("n_t").cast("bigint").as("n_t"), col("n_c").cast("bigint").as("n_c"),
        col("cum_yt").cast("bigint").as("cum_conv_treat"),
        col("cum_yc").cast("bigint").as("cum_conv_control"),
        round(col("cum_yt") - col("cum_yc").cast("double")
          * col("cum_nt") / col("cum_nc"), 4).as("qini"))
      .orderBy(col("decile"))
  }

  private val qiniCurveSql =
    """WITH u AS (
      |  SELECT user_id,
      |    sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS score,
      |    max(CASE WHEN event_type = 'purchase' AND value > 180
      |        AND ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS y,
      |    user_id % 2 AS treated
      |  FROM events GROUP BY user_id
      |), d AS (
      |  SELECT *, ntile(10) OVER (ORDER BY score DESC, user_id) AS decile FROM u
      |), g AS (
      |  SELECT decile,
      |    sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS n_t,
      |    sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS n_c,
      |    sum(CASE WHEN treated = 1 THEN y ELSE 0 END) AS y_t,
      |    sum(CASE WHEN treated = 0 THEN y ELSE 0 END) AS y_c
      |  FROM d GROUP BY decile
      |), c AS (
      |  SELECT decile, n_t, n_c,
      |    sum(y_t) OVER w AS cum_yt, sum(y_c) OVER w AS cum_yc,
      |    sum(n_t) OVER w AS cum_nt, sum(n_c) OVER w AS cum_nc
      |  FROM g
      |  WINDOW w AS (ORDER BY decile
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT decile, n_t::BIGINT AS n_t, n_c::BIGINT AS n_c,
      |  cum_yt::BIGINT AS cum_conv_treat, cum_yc::BIGINT AS cum_conv_control,
      |  round(cum_yt - cum_yc::DOUBLE * cum_nt / cum_nc, 4) AS qini
      |FROM c ORDER BY decile""".stripMargin

  /** q277: exact Shapley-value channel attribution — the game-theoretic
    * answer to "which touchpoint deserves the conversion credit":
    * coalition value v(S) = conversion rate of users whose touched
    * channel set is exactly S, and each channel's Shapley value is the
    * weighted average of its marginal contribution v(S∪{i}) − v(S)
    * over all coalitions. With 3 channels the 2³ coalition table is
    * exact (no sampling); marketing stacks run the same computation
    * with sampled permutations at higher channel counts. Complements
    * q111 (last-touch) and q122 (linear) with the order-free,
    * axiomatically fair attribution.
    *
    * Scale shape: one event pass into user-keyed channel bitmasks →
    * an 8-row coalition table; the Shapley sum is a 12-row literal
    * (channel, S, S∪{i}, weight) joined twice against that table.
    * Everything after the first pass is constant-size algebra.
    */
  def shapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        (max(when(col("event_type") === "click", 1L).otherwise(0L))
          + max(when(col("event_type") === "view", 2L).otherwise(0L))
          + max(when(col("event_type") === "signup", 4L).otherwise(0L))).as("mask"),
        max(when(col("event_type") === "purchase" && col("value") > 180, 1L)
          .otherwise(0L)).as("y"))
    val v = users.groupBy(col("mask"))
      .agg(count(lit(1)).cast("double").as("n"), sum(col("y")).cast("double").as("c"))
      .select(col("mask"), (col("c") / col("n")).as("v"))
    // (channel, coalition-without, weight |S|!(3-|S|-1)!/3!) for all S ∌ i
    val terms = Seq(
      ("click", 1L), ("view", 2L), ("signup", 4L)
    ).flatMap { case (name, bit) =>
      (0L to 7L).filter(s => (s & bit) == 0).map { s =>
        val size = java.lang.Long.bitCount(s)
        val w = (1 to size).product.toDouble *
          (1 to (3 - size - 1)).product.toDouble / 6.0
        (name, s, s | bit, w)
      }
    }.toDF("channel", "s_without", "s_with", "w")
    terms
      .join(v.select(col("mask").as("s_without"), col("v").as("v0")),
        Seq("s_without"), "left")
      .join(v.select(col("mask").as("s_with"), col("v").as("v1")),
        Seq("s_with"), "left")
      .groupBy(col("channel"))
      .agg(round(sum(col("w") * (coalesce(col("v1"), lit(0.0))
        - coalesce(col("v0"), lit(0.0)))), 4).as("shapley"))
      .orderBy(col("channel"))
  }

  private val shapleyAttributionSql =
    """WITH u AS (
      |  SELECT user_id,
      |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      + max(CASE WHEN event_type = 'view' THEN 2 ELSE 0 END)
      |      + max(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END) AS mask,
      |    max(CASE WHEN event_type = 'purchase' AND value > 180
      |        THEN 1 ELSE 0 END) AS y
      |  FROM events GROUP BY user_id
      |), v AS (
      |  SELECT mask, sum(y)::DOUBLE / count(*) AS v FROM u GROUP BY mask
      |), terms AS (
      |  SELECT ch.channel, ch.bit, s.s AS s_without, s.s + ch.bit AS s_with,
      |    CASE bit_count(s.s::BIGINT)
      |      WHEN 0 THEN 2.0 / 6 WHEN 1 THEN 1.0 / 6 WHEN 2 THEN 2.0 / 6
      |    END AS w
      |  FROM (VALUES ('click', 1), ('view', 2), ('signup', 4)) ch(channel, bit),
      |       unnest(generate_series(0, 7)) s(s)
      |  WHERE (s.s & ch.bit) = 0
      |)
      |SELECT t.channel,
      |  round(sum(t.w * (coalesce(v1.v, 0) - coalesce(v0.v, 0))), 4) AS shapley
      |FROM terms t
      |LEFT JOIN v v0 ON v0.mask = t.s_without
      |LEFT JOIN v v1 ON v1.mask = t.s_with
      |GROUP BY t.channel ORDER BY t.channel""".stripMargin

  /** q279: offline policy evaluation (IPS / SNIPS) — the counterfactual
    * question every recommender/bandit team asks of logged data: "what
    * reward WOULD a new policy have earned?" Inverse-propensity
    * scoring reweights logged (action, reward) pairs by
    * 1[π(x) = a]/p_log(a); SNIPS normalizes by the weight mass, the
    * standard variance fix. Here the log is the event stream (action =
    * event type, uniform logging propensity 1/5 over the five types,
    * reward = high-value purchase indicator), and the target policy is
    * a deterministic context rule (engaged users → 'purchase', others →
    * 'click'). Evaluating a policy becomes ONE pass over logs — no
    * simulator, no online test.
    *
    * Scale shape: a user-keyed context pass (activity), then a
    * map-side weighted aggregation over events joined to the
    * per-user context — two shuffles, both partial-aggregated, output
    * one readout row.
    */
  def offlinePolicyEval(spark: SparkSession, dir: String): DataFrame = {
    val ctx = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_ev"))
      .withColumn("target_action",
        when(col("n_ev") >= 67, lit("purchase")).otherwise(lit("click")))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type").as("a"),
        when(col("event_type") === "purchase" && col("value") > 180, 1.0)
          .otherwise(0.0).as("r"))
      .join(ctx, Seq("user_id"))
      .withColumn("w", when(col("a") === col("target_action"), lit(5.0))
        .otherwise(lit(0.0)))
      .agg(count(lit(1)).cast("bigint").as("n_logged"),
        round(avg(col("r")), 6).as("logged_value"),
        round(avg(col("r") * col("w")), 6).as("ips_value"),
        round(sum(col("r") * col("w")) / sum(col("w")), 6).as("snips_value"),
        round(avg(when(col("w") > 0, 1.0).otherwise(0.0)), 4).as("match_rate"))
  }

  private val offlinePolicyEvalSql =
    """WITH ctx AS (
      |  SELECT user_id, count(*) AS n_ev,
      |    CASE WHEN count(*) >= 67 THEN 'purchase' ELSE 'click' END AS target_action
      |  FROM events GROUP BY user_id
      |), lg AS (
      |  SELECT e.user_id, e.event_type AS a,
      |    CASE WHEN e.event_type = 'purchase' AND e.value > 180
      |      THEN 1.0 ELSE 0.0 END AS r,
      |    CASE WHEN e.event_type = c.target_action THEN 5.0 ELSE 0.0 END AS w
      |  FROM events e JOIN ctx c USING (user_id)
      |)
      |SELECT count(*)::BIGINT AS n_logged,
      |  round(avg(r), 6) AS logged_value,
      |  round(avg(r * w), 6) AS ips_value,
      |  round(sum(r * w) / sum(w), 6) AS snips_value,
      |  round(avg(CASE WHEN w > 0 THEN 1.0 ELSE 0.0 END), 4) AS match_rate
      |FROM lg""".stripMargin

  /** q269: Benjamini–Hochberg FDR control over a battery of A/B metric
    * tests — the multiple-comparisons step every experimentation
    * platform runs when one experiment reads out dozens of metrics:
    * 35 (event_type × weekday) cells each get a Welch t between the
    * user-id-parity variants, p-values rank ascending, and the BH
    * step-up rule rejects every rank ≤ max{r : p_r ≤ r·q/m} at
    * q = 0.10. Two-sided p comes from the standard algebraic
    * normal-tail approximation p ≈ exp(−0.717·|t| − 0.416·t²)
    * (Lin 1989) — pure arithmetic, so both engines compute the
    * IDENTICAL value (an erf-based CDF exists in neither SQL dialect).
    *
    * Cross-engine determinism: per-cell moments are exact integer
    * cents (q119's discipline); ranking ties break on the cell key.
    *
    * Scale shape: one conditional-aggregation pass over events into
    * (cell × variant) moments; everything after — t, p, ranks, the
    * step-up cummax — operates on the m-row TEST table, so the
    * whole-set window costs O(m log m) on metadata, never a data
    * shuffle. 10¹² events, 35 rows of window work.
    */
  def bhFdr(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(col("event_type"), dayofweek(col("ts")).as("dow"),
        (pmod(col("user_id"), lit(2)) === 1).as("is_b"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .withColumn("c2", (col("c") * col("c")).cast("decimal(38,0)"))
      .groupBy(col("event_type"), col("dow"))
      .agg(
        sum(when(!col("is_b"), 1L).otherwise(0L)).cast("bigint").as("n0"),
        sum(when(col("is_b"), 1L).otherwise(0L)).cast("bigint").as("n1"),
        sum(when(!col("is_b"), col("c"))).cast("double").as("s0"),
        sum(when(col("is_b"), col("c"))).cast("double").as("s1"),
        sum(when(!col("is_b"), col("c2"))).cast("double").as("q0"),
        sum(when(col("is_b"), col("c2"))).cast("double").as("q1"))
      .filter(col("n0") >= 2 && col("n1") >= 2)
      .withColumn("u0", (col("q0") - col("s0") * col("s0") / col("n0"))
        / (col("n0") - 1) / col("n0"))
      .withColumn("u1", (col("q1") - col("s1") * col("s1") / col("n1"))
        / (col("n1") - 1) / col("n1"))
      .withColumn("t", (col("s1") / col("n1") - col("s0") / col("n0"))
        / sqrt(col("u0") + col("u1")))
      .withColumn("p", least(lit(1.0),
        exp(lit(-0.717) * abs(col("t")) - lit(0.416) * col("t") * col("t"))))
    val wRank = Window.orderBy(col("p"), col("event_type"), col("dow"))
    val wAll = Window.partitionBy()
    cells
      .withColumn("p_rank", row_number().over(wRank))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("max_r", max(when(
        col("p") <= col("p_rank") * 0.10 / col("m"), col("p_rank"))).over(wAll))
      .select(col("event_type"), col("dow").cast("int").as("dow"),
        col("n0"), col("n1"),
        round(col("t"), 4).as("t_stat"), round(col("p"), 6).as("p_value"),
        col("p_rank").cast("bigint").as("p_rank"),
        coalesce(col("p_rank") <= col("max_r"), lit(false)).as("rejected"))
      .orderBy(col("p_rank"))
  }

  /** DuckDB `dayofweek` is 0=Sunday; Spark's is 1=Sunday → +1 shift. */
  private val bhFdrSql =
    """WITH s AS (
      |  SELECT event_type, dayofweek(ts) + 1 AS dow,
      |    user_id % 2 = 1 AS is_b, round(value * 100)::BIGINT AS c
      |  FROM events
      |), g AS (
      |  SELECT event_type, dow,
      |    sum(CASE WHEN NOT is_b THEN 1 ELSE 0 END)::BIGINT AS n0,
      |    sum(CASE WHEN is_b THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    sum(CASE WHEN NOT is_b THEN c END)::DOUBLE AS s0,
      |    sum(CASE WHEN is_b THEN c END)::DOUBLE AS s1,
      |    sum(CASE WHEN NOT is_b THEN c * c END)::DOUBLE AS q0,
      |    sum(CASE WHEN is_b THEN c * c END)::DOUBLE AS q1
      |  FROM s GROUP BY 1, 2
      |  HAVING n0 >= 2 AND n1 >= 2
      |), d AS (
      |  SELECT event_type, dow, n0, n1,
      |    (s1 / n1 - s0 / n0) /
      |      sqrt((q0 - s0 * s0 / n0) / (n0 - 1) / n0
      |         + (q1 - s1 * s1 / n1) / (n1 - 1) / n1) AS t
      |  FROM g
      |), p AS (
      |  SELECT *, least(1.0, exp(-0.717 * abs(t) - 0.416 * t * t)) AS p
      |  FROM d
      |), r AS (
      |  SELECT *,
      |    row_number() OVER (ORDER BY p, event_type, dow) AS p_rank,
      |    count(*) OVER () AS m
      |  FROM p
      |), f AS (
      |  SELECT *,
      |    max(CASE WHEN p <= p_rank * 0.10 / m THEN p_rank END) OVER () AS max_r
      |  FROM r
      |)
      |SELECT event_type, dow::INT AS dow, n0, n1,
      |  round(t, 4) AS t_stat, round(p, 6) AS p_value,
      |  p_rank::BIGINT AS p_rank,
      |  coalesce(p_rank <= max_r, false) AS rejected
      |FROM f ORDER BY p_rank""".stripMargin

  private val cupedSql =
    """WITH u AS (
      |  SELECT user_id,
      |    coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN value END), 0) AS x,
      |    coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN value END), 0) AS y,
      |    (user_id % 2)::INT AS variant
      |  FROM events GROUP BY user_id
      |), g AS (
      |  SELECT covar_pop(x, y) / var_pop(x) AS theta, avg(x) AS mean_x FROM u
      |), a AS (
      |  SELECT variant, y, y - theta * (x - mean_x) AS y_adj
      |  FROM u CROSS JOIN g
      |)
      |SELECT variant, count(*)::BIGINT AS n_users,
      |  round(avg(y), 4) AS mean_y,
      |  round(avg(y_adj), 4) AS mean_y_adj,
      |  round(var_pop(y), 4) AS var_y,
      |  round(var_pop(y_adj), 4) AS var_y_adj,
      |  round(1.0 - var_pop(y_adj) / var_pop(y), 4) AS var_reduction
      |FROM a GROUP BY variant ORDER BY variant""".stripMargin

  /** q281: difference-in-differences — the workhorse quasi-experimental
    * estimator for launches WITHOUT randomization (a feature ships to
    * one cohort at a date; the other cohort is the counterfactual
    * trend). Unit = user, outcome = purchase revenue per period,
    * groups = user-id parity, cutover = the fixture's Jan-2024
    * midpoint. DiD = (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre);
    * inference uses the per-user post−pre delta (equivalent to the
    * interaction coefficient), SE² = s²_t/n_t + s²_c/n_c, which is
    * robust to per-user level differences.
    *
    * Scale shape: one user-keyed conditional aggregation (map-side
    * partial) → per-user panel, then a 2-row group aggregate. The
    * window-free two-shuffle profile of q264's CUPED; 10¹² events
    * reduce to |users| rows then 1 readout row.
    */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-16").cast("timestamp")
    val purch = col("event_type") === "purchase"
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        coalesce(sum(when(purch && col("ts") < cut, col("value"))), lit(0.0)).as("y_pre"),
        coalesce(sum(when(purch && col("ts") >= cut, col("value"))), lit(0.0)).as("y_post"))
      .withColumn("treat", (pmod(col("user_id"), lit(2)) === 1).cast("int"))
      .withColumn("delta", col("y_post") - col("y_pre"))
      .groupBy()
      .agg(
        sum(when(col("treat") === 1, 1L).otherwise(0L)).cast("bigint").as("n_treat"),
        sum(when(col("treat") === 0, 1L).otherwise(0L)).cast("bigint").as("n_ctrl"),
        round(avg(when(col("treat") === 1, col("y_pre"))), 4).as("treat_pre"),
        round(avg(when(col("treat") === 1, col("y_post"))), 4).as("treat_post"),
        round(avg(when(col("treat") === 0, col("y_pre"))), 4).as("ctrl_pre"),
        round(avg(when(col("treat") === 0, col("y_post"))), 4).as("ctrl_post"),
        round(avg(when(col("treat") === 1, col("delta")))
          - avg(when(col("treat") === 0, col("delta"))), 4).as("did"),
        round(sqrt(
          var_samp(when(col("treat") === 1, col("delta")))
            / sum(when(col("treat") === 1, 1L).otherwise(0L))
          + var_samp(when(col("treat") === 0, col("delta")))
            / sum(when(col("treat") === 0, 1L).otherwise(0L))), 4).as("se"),
        round((avg(when(col("treat") === 1, col("delta")))
            - avg(when(col("treat") === 0, col("delta"))))
          / sqrt(
            var_samp(when(col("treat") === 1, col("delta")))
              / sum(when(col("treat") === 1, 1L).otherwise(0L))
            + var_samp(when(col("treat") === 0, col("delta")))
              / sum(when(col("treat") === 0, 1L).otherwise(0L))), 4).as("t_stat"))
  }

  private val diffInDiffSql =
    """WITH u AS (
      |  SELECT user_id,
      |    coalesce(sum(CASE WHEN event_type = 'purchase'
      |      AND ts < TIMESTAMP '2024-01-16' THEN value END), 0) AS y_pre,
      |    coalesce(sum(CASE WHEN event_type = 'purchase'
      |      AND ts >= TIMESTAMP '2024-01-16' THEN value END), 0) AS y_post,
      |    (user_id % 2)::INT AS treat
      |  FROM events GROUP BY user_id
      |), d AS (
      |  SELECT treat, y_pre, y_post, y_post - y_pre AS delta FROM u
      |)
      |SELECT
      |  sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END)::BIGINT AS n_treat,
      |  sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ctrl,
      |  round(avg(CASE WHEN treat = 1 THEN y_pre END), 4) AS treat_pre,
      |  round(avg(CASE WHEN treat = 1 THEN y_post END), 4) AS treat_post,
      |  round(avg(CASE WHEN treat = 0 THEN y_pre END), 4) AS ctrl_pre,
      |  round(avg(CASE WHEN treat = 0 THEN y_post END), 4) AS ctrl_post,
      |  round(avg(CASE WHEN treat = 1 THEN delta END)
      |    - avg(CASE WHEN treat = 0 THEN delta END), 4) AS did,
      |  round(sqrt(
      |    var_samp(CASE WHEN treat = 1 THEN delta END)
      |      / sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END)
      |    + var_samp(CASE WHEN treat = 0 THEN delta END)
      |      / sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END)), 4) AS se,
      |  round((avg(CASE WHEN treat = 1 THEN delta END)
      |      - avg(CASE WHEN treat = 0 THEN delta END))
      |    / sqrt(
      |      var_samp(CASE WHEN treat = 1 THEN delta END)
      |        / sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END)
      |      + var_samp(CASE WHEN treat = 0 THEN delta END)
      |        / sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END)), 4) AS t_stat
      |FROM d""".stripMargin

  /** q282: doubly-robust off-policy evaluation — the estimator that
    * dominates plain IPS (q279) in practice (Dudík, Langford & Li
    * 2011): DR = E[ q̂(x, π(x)) + w·(r − q̂(x, a)) ] combines a direct
    * outcome model q̂ with the propensity correction, is unbiased if
    * EITHER is right, and has strictly lower variance than IPS when
    * q̂ explains any reward signal. Same logged bandit view as q279
    * (uniform 1/5 logging propensity, deterministic target policy);
    * q̂(x, a) is the empirical mean reward per (context-bucket,
    * action) cell estimated from the same logs. Output shows the
    * direct-method, IPS, SNIPS and DR readouts side by side.
    *
    * Scale shape: the q279 two-shuffle profile plus one |contexts|×
    * |actions| model table (10 rows) joined back by broadcast — the
    * model stage adds no data shuffle at any corpus size.
    */
  def doublyRobustEval(spark: SparkSession, dir: String): DataFrame = {
    val ctx = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_ev"))
      .withColumn("engaged", (col("n_ev") >= 67).cast("int"))
      .withColumn("target_action",
        when(col("engaged") === 1, lit("purchase")).otherwise(lit("click")))
    val logs = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type").as("a"),
        when(col("event_type") === "purchase" && col("value") > 180, 1.0)
          .otherwise(0.0).as("r"))
      .join(ctx, Seq("user_id"))
    val qhat = logs.groupBy(col("engaged"), col("a"))
      .agg(avg(col("r")).as("q"))
    logs
      .join(broadcast(qhat), Seq("engaged", "a"))
      .join(broadcast(qhat.select(col("engaged"),
          col("a").as("target_action"), col("q").as("q_pi"))),
        Seq("engaged", "target_action"))
      .withColumn("w", when(col("a") === col("target_action"), lit(5.0))
        .otherwise(lit(0.0)))
      .agg(count(lit(1)).cast("bigint").as("n_logged"),
        round(avg(col("q_pi")), 6).as("dm_value"),
        round(avg(col("r") * col("w")), 6).as("ips_value"),
        round(sum(col("r") * col("w")) / sum(col("w")), 6).as("snips_value"),
        round(avg(col("q_pi") + col("w") * (col("r") - col("q"))), 6)
          .as("dr_value"))
  }

  private val doublyRobustEvalSql =
    """WITH ctx AS (
      |  SELECT user_id, count(*) AS n_ev,
      |    (count(*) >= 67)::INT AS engaged,
      |    CASE WHEN count(*) >= 67 THEN 'purchase' ELSE 'click' END
      |      AS target_action
      |  FROM events GROUP BY user_id
      |), lg AS (
      |  SELECT e.user_id, e.event_type AS a, c.engaged, c.target_action,
      |    CASE WHEN e.event_type = 'purchase' AND e.value > 180
      |      THEN 1.0 ELSE 0.0 END AS r
      |  FROM events e JOIN ctx c USING (user_id)
      |), qhat AS (
      |  SELECT engaged, a, avg(r) AS q FROM lg GROUP BY engaged, a
      |), j AS (
      |  SELECT lg.r, qa.q, qp.q AS q_pi,
      |    CASE WHEN lg.a = lg.target_action THEN 5.0 ELSE 0.0 END AS w
      |  FROM lg
      |  JOIN qhat qa ON qa.engaged = lg.engaged AND qa.a = lg.a
      |  JOIN qhat qp ON qp.engaged = lg.engaged AND qp.a = lg.target_action
      |)
      |SELECT count(*)::BIGINT AS n_logged,
      |  round(avg(q_pi), 6) AS dm_value,
      |  round(avg(r * w), 6) AS ips_value,
      |  round(sum(r * w) / sum(w), 6) AS snips_value,
      |  round(avg(q_pi + w * (r - q)), 6) AS dr_value
      |FROM j""".stripMargin

}
