package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.{Clock, Exact}

/** Time-keyed operators over the `events` stream-shaped table: business-date
  * assignment, retention (K5/P2), event-time tumbling windows, and JSON
  * property extraction — the reference's date semantics (SURVEY.md §2.2 P2,
  * §2.4 K5, §2.6) plus the standard event-pipeline ops.
  *
  * Retention cutoffs are derived from max(event time) in the data, never
  * the wall clock, so every run is deterministic (§4.4-g fix).
  */
object Temporal {

  /** q_business_date: daily rollup under the +05:30 business-date rule
    * (main.py:444 semantics on fixture timestamps).
    */
  def businessDateRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(Clock.businessDate(col("ts")).as("business_date"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        Exact.sum2(col("value")).as("sum_value"))
      .orderBy("business_date")

  val businessDateRollupOracle: String =
    s"""SELECT ${Clock.businessDateSql("ts")} AS business_date,
       |       COUNT(*) AS n_events,
       |       COUNT(DISTINCT user_id) AS n_users,
       |       ${Exact.sum2Sql("value")} AS sum_value
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_retention: the retention delete (daily_cleanup.py:30, exclusive `<`
    * bound, 4 days) expressed as keep/drop partitioning relative to the max
    * business date in the data. At scale this is a partition drop on a
    * date-partitioned table — see graft.etl.Sinks.retentionDropPartitions
    * for the writer side.
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("business_date", Clock.businessDate(col("ts")))
    // as-of = max(business_date) IN THE PLAN (broadcast 1-row cross join),
    // never a driver-side date collect — `toJavaDate` row decodes are
    // JVM-sensitive and this is a query path, not an ops entry point
    val asOf = broadcast(e.agg(max("business_date").as("as_of")))
    e.crossJoin(asOf)
      .withColumn("kept", Clock.retentionKeep(col("business_date"), col("as_of")))
      .groupBy("event_type")
      .agg(
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_deleted"),
        max(when(!col("kept"), col("business_date"))).as("max_deleted_date"),
        min(when(col("kept"), col("business_date"))).as("min_kept_date"))
      .orderBy("event_type")
  }

  val retentionOracle: String = {
    val bd = Clock.businessDateSql("ts")
    s"""WITH e AS (SELECT event_type, $bd AS business_date FROM events),
       |m AS (SELECT MAX(business_date) AS as_of FROM e)
       |SELECT event_type,
       |       CAST(SUM(CASE WHEN business_date >= as_of - 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(SUM(CASE WHEN business_date <  as_of - 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       |       MAX(CASE WHEN business_date < as_of - 4 THEN business_date END) AS max_deleted_date,
       |       MIN(CASE WHEN business_date >= as_of - 4 THEN business_date END) AS min_kept_date
       |FROM e, m GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q_events_hourly: event-time tumbling window aggregation — the batch
    * form of the streaming windowed count (graft.streaming mirrors it with
    * a watermark on the same data).
    */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Exact.sum2(col("value")).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
              col("n_events"), col("sum_value"))
      .orderBy("hour_start", "event_type")

  val eventsHourlyOracle: String =
    s"""SELECT date_trunc('hour', ts) AS hour_start, event_type,
       |       COUNT(*) AS n_events, ${Exact.sum2Sql("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_events_gapfill: dense hourly time series with zero-filled gaps — the
    * standard "regularize an event stream before rate/anomaly analysis"
    * pass: every (hour, event_type) cell in the observed global hour range
    * appears exactly once, with n_events = 0 and is_gap = 1 where no event
    * landed.
    *
    * Scale shape: the corpus-sized input collapses through ONE map-side
    * combined aggregation; everything after operates on aggregated data —
    * the hour spine is generated from a 1-row bounds aggregate via
    * `sequence` (never a driver loop), the type dimension is the distinct
    * of the rollup, and the final left join is dense-spine × rollup
    * (hours × types rows, both tiny relative to the input; AQE broadcasts
    * the rollup side). The rollup feeds three consumers (bounds, types,
    * join probe) and is persisted so the corpus aggregation runs once.
    */
  def eventsGapfill(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .persist()
    val bounds = hourly.agg(min("hour_start").as("lo"), max("hour_start").as("hi"))
    val hours = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hour_start"))
    val types = hourly.select("event_type").distinct()
    hours.crossJoin(types)
      .join(hourly, Seq("hour_start", "event_type"), "left")
      .select(col("hour_start"), col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("n_events").isNull.cast("int").as("is_gap"))
      .orderBy("hour_start", "event_type")
  }

  val eventsGapfillOracle: String =
    """WITH hourly AS (
      |  SELECT date_trunc('hour', ts) AS hour_start, event_type, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT MIN(hour_start) AS lo, MAX(hour_start) AS hi FROM hourly),
      |hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start FROM b),
      |types AS (SELECT DISTINCT event_type FROM hourly)
      |SELECT h.hour_start, t.event_type,
      |       COALESCE(x.n_events, 0) AS n_events,
      |       CAST(x.n_events IS NULL AS INT) AS is_gap
      |FROM hours h CROSS JOIN types t
      |LEFT JOIN hourly x
      |  ON x.hour_start = h.hour_start AND x.event_type = t.event_type
      |ORDER BY 1, 2""".stripMargin

  /** Trailing window length (days) for [[rollingDistinct]]. */
  val RollingDistinctDays = 7

  /** q_rolling_distinct: trailing-7-day distinct active users per
    * calendar day — the rolling-DAU/WAU operator. Distinct-over-sliding-
    * window is the textbook scale trap: the naive form joins every day to
    * its 7-day event window (×7 the corpus) or re-counts distincts per
    * day. This plan never widens the data: a user active on day d covers
    * [d, d+6], so per user the sorted active days collapse into coverage
    * RUNS (a >6-day gap breaks a run; a gap of exactly 7 may split runs,
    * but then the −1/＋1 boundary deltas land on the same date and cancel
    * in the rollup). Each run emits ±1 interval-boundary deltas, and the
    * per-day count is the running sum of deltas over the calendar spine —
    * the classic interval-stabbing / difference-array form.
    *
    * Shuffles: one distinct on (day, user), one per-user window, one
    * tiny delta rollup keyed by day. The final running sum is a global
    * ordered window over the CALENDAR SPINE — bounded by elapsed days,
    * not data volume (the [[eventsGapfill]] spine discipline), so the
    * single partition holds ~10³ rows at any corpus scale.
    */
  def rollingDistinct(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = RollingDistinctDays
    // pinned under the retained-cache convention (NOT call-scoped like the
    // prefix-Jaccard index pin): its three consumers — runs, daily actives,
    // spine bounds — are all lazy branches of the RETURNED plan, so the pin
    // must outlive this call; the harness's per-query clearCache releases it
    val pairs = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .persist()
    val byUser = Window.partitionBy("user_id").orderBy("day")
    val runs = pairs
      .withColumn("prev_day", lag("day", 1).over(byUser))
      .withColumn("new_run",
        when(col("prev_day").isNull ||
             datediff(col("day"), col("prev_day")) > w - 1, 1L).otherwise(0L))
      .withColumn("run_id", sum("new_run").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_id")
      .agg(min("day").as("run_start"),
           date_add(max("day"), w - 1).as("run_end"))
    val deltas = runs.select(col("run_start").as("day"), lit(1L).as("delta"))
      .unionByName(runs.select(date_add(col("run_end"), 1).as("day"),
                               lit(-1L).as("delta")))
      .groupBy("day").agg(sum("delta").as("delta"))
    val daily1 = pairs.groupBy("day").agg(count(lit(1)).as("n1"))
    val spine = pairs.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 DAY")))
        .as("day"))
    spine
      .join(deltas, Seq("day"), "left")
      .join(daily1, Seq("day"), "left")
      .withColumn("active_7d", sum(coalesce(col("delta"), lit(0L))).over(
        Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("day"), coalesce(col("n1"), lit(0L)).as("active_1d"),
              col("active_7d"))
      .orderBy("day")
  }

  val rollingDistinctOracle: String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
       |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM pairs),
       |spine AS (
       |  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
       |  FROM b)
       |SELECT s.day,
       |       (SELECT COUNT(*) FROM pairs p WHERE p.day = s.day) AS active_1d,
       |       (SELECT COUNT(DISTINCT p.user_id) FROM pairs p
       |        WHERE p.day BETWEEN s.day - ${RollingDistinctDays - 1} AND s.day)
       |         AS active_7d
       |FROM spine s ORDER BY 1""".stripMargin

  /** Oracle for q_stream_join ([[graft.streaming.StreamingQueries
    * .streamClickAttribution]]): the same click→purchase attribution as a
    * plain batch range join. DuckDB loads the parquet TIMESTAMP(NANOS)
    * column truncated to microseconds, matching the Spark side's
    * `timestamp_micros(ts div 1000)`, so the interval boundary agrees
    * exactly across engines.
    */
  val clickAttributionOracle: String =
    """WITH c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
      |           FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
      |      FROM events WHERE event_type = 'purchase')
      |SELECT user_id, click_id, purchase_id, value
      |FROM c JOIN p USING (user_id)
      |WHERE purchase_ts >= click_ts
      |  AND purchase_ts <= click_ts + INTERVAL 1 HOUR
      |ORDER BY 1, 2, 3""".stripMargin

  /** q_ab_lift: A/B conversion-lift analysis — assign every event to an
    * experiment arm from its property payload (variant = k mod 2, the
    * assignment-by-attribute shape; real pipelines read an explicit
    * variant key the same way), then compare click→purchase conversion
    * between arms with EXACT integer arithmetic: conversion in basis
    * points is integer division, and the winner verdict is the
    * cross-multiplied comparison purchases_a·clicks_b vs
    * purchases_b·clicks_a — no float ratio ever decides.
    *
    * Scale: one scan, one map-side combined (arm) aggregation, and a
    * 2-row self-join to lay arms side by side — output is one row per
    * arm pair. The lift double is derived from identical integers.
    */
  def abLift(spark: SparkSession, dir: String): DataFrame = {
    val arms = Tables.events(spark, dir)
      .withColumn("variant",
        (regexp_extract(col("props"), "\"k\":\\s*([0-9]+)", 1).cast("long") % 2)
          .cast("int"))
      .groupBy("variant")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
    val a = arms.filter(col("variant") === 0)
      .select(col("n_events").as("events_a"), col("n_users").as("users_a"),
              col("n_clicks").as("clicks_a"), col("n_purchases").as("purchases_a"))
    val b = arms.filter(col("variant") === 1)
      .select(col("n_events").as("events_b"), col("n_users").as("users_b"),
              col("n_clicks").as("clicks_b"), col("n_purchases").as("purchases_b"))
    a.crossJoin(b)
      .select(
        col("events_a"), col("events_b"), col("users_a"), col("users_b"),
        col("clicks_a"), col("clicks_b"), col("purchases_a"), col("purchases_b"),
        expr("purchases_a * 10000 div clicks_a").as("conv_bp_a"),
        expr("purchases_b * 10000 div clicks_b").as("conv_bp_b"),
        ((col("purchases_b") * col("clicks_a")).cast("double") /
         (col("purchases_a") * col("clicks_b")).cast("double")).as("lift_b_over_a"),
        (signum((col("purchases_b") * col("clicks_a")
                 - col("purchases_a") * col("clicks_b")).cast("double")))
          .cast("int").as("winner"))
  }

  val abLiftOracle: String =
    """WITH e AS (
      |  SELECT CAST(CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT) % 2 AS INT) AS variant,
      |         user_id, event_type
      |  FROM events),
      |arms AS (
      |  SELECT variant, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
      |         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
      |         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
      |  FROM e GROUP BY 1)
      |SELECT a.n_events AS events_a, b.n_events AS events_b,
      |       a.n_users AS users_a, b.n_users AS users_b,
      |       a.n_clicks AS clicks_a, b.n_clicks AS clicks_b,
      |       a.n_purchases AS purchases_a, b.n_purchases AS purchases_b,
      |       CAST(a.n_purchases * 10000 // a.n_clicks AS BIGINT) AS conv_bp_a,
      |       CAST(b.n_purchases * 10000 // b.n_clicks AS BIGINT) AS conv_bp_b,
      |       CAST(b.n_purchases * a.n_clicks AS DOUBLE)
      |         / CAST(a.n_purchases * b.n_clicks AS DOUBLE) AS lift_b_over_a,
      |       CAST(SIGN(CAST(b.n_purchases * a.n_clicks
      |                      - a.n_purchases * b.n_clicks AS DOUBLE)) AS INT) AS winner
      |FROM arms a CROSS JOIN arms b
      |WHERE a.variant = 0 AND b.variant = 1""".stripMargin

  /** q_events_props: JSON property extraction from the dynamic `props`
    * column (the reference's checkpoint/notification JSON handling,
    * SURVEY.md §1.1) — regexp-based so both engines share one code path.
    */
  def eventsProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*([0-9]+)", 1).cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum("k").as("sum_k"),
        countDistinct("k").as("n_distinct_k"),
        max("k").as("max_k"))
      .orderBy("event_type")

  val eventsPropsOracle: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
      |       COUNT(DISTINCT CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT)) AS n_distinct_k,
      |       MAX(CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT)) AS max_k
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** q_cohort_retention: weekly cohort grid — users grouped by first-seen
    * week, counted in each later active week (the standard retention
    * matrix; two aggregations + one broadcast join of the tiny cohort map).
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("week"))
    val cohort = e.groupBy("user_id").agg(min("week").as("cohort_week"))
    e.distinct()
      .join(broadcast(cohort), "user_id")
      .groupBy("cohort_week", "week")
      .agg(countDistinct("user_id").as("n_active"))
      .withColumn("week_no", datediff(col("week"), col("cohort_week")) / 7)
      .select(col("cohort_week"), col("week_no").cast("int").as("week_no"), col("n_active"))
      .orderBy("cohort_week", "week_no")
  }

  val cohortRetentionOracle: String =
    """WITH e AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
      |c AS (SELECT user_id, MIN(week) AS cohort_week FROM e GROUP BY 1)
      |SELECT cohort_week,
      |       CAST((week - cohort_week) / 7 AS INT) AS week_no,
      |       COUNT(DISTINCT e.user_id) AS n_active
      |FROM e JOIN c ON e.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_events_funnel: ordered-step conversion funnel — per user, did a
    * view precede a click precede a purchase (strict event-time order)?
    * The sequential-pattern op of event analytics, as three min-timestamp
    * aggregates + ordering predicates (one shuffle).
    */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val firstOf = (t: String) => min(when(col("event_type") === t, col("ts"))).as(s"first_$t")
    e.groupBy("user_id")
      .agg(firstOf("view"), firstOf("click"), firstOf("purchase"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(when(col("first_view").isNotNull, 1L).otherwise(0L)).as("n_viewed"),
        sum(when(col("first_view") < col("first_click"), 1L).otherwise(0L)).as("n_view_then_click"),
        sum(when(col("first_view") < col("first_click") &&
                 col("first_click") < col("first_purchase"), 1L).otherwise(0L)).as("n_full_funnel"))
  }

  val eventsFunnelOracle: String =
    """WITH f AS (
      |  SELECT user_id,
      |         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
      |         MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
      |         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      |  FROM events GROUP BY 1)
      |SELECT COUNT(*) AS n_users,
      |       CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
      |       CAST(SUM(CASE WHEN first_view < first_click THEN 1 ELSE 0 END) AS BIGINT) AS n_view_then_click,
      |       CAST(SUM(CASE WHEN first_view < first_click AND first_click < first_purchase
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
      |FROM f""".stripMargin

  /** q_user_sessions: sessionization — split each user's event stream at
    * >30-minute gaps (the windowing/stateful analogue the north-star asks
    * of an events table; in streaming this is session_window /
    * flatMapGroupsWithState). Pure window functions: one shuffle on
    * user_id.
    */
  def userSessions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val sessions = Tables.events(spark, dir)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      // fractional-second gap test: cast-to-double keeps microseconds, exactly
      // matching the oracle's epoch(ts); unix_timestamp would floor to whole
      // seconds and flip sessions whose gap is in (1800, 1801)
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
             col("ts").cast("double") - col("prev_ts").cast("double") > 1800d, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_session").over(
        Window.partitionBy("user_id").orderBy("ts")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"))
      .groupBy()
      .agg(
        count(lit(1)).as("n_sessions"),
        countDistinct("user_id").as("n_users"),
        max("n_events").as("max_session_events"),
        sum("n_events").as("n_events"))
  }

  val userSessionsOracle: String =
    """WITH g AS (
      |  SELECT user_id, ts,
      |         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |                OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |s AS (
      |  SELECT user_id,
      |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM g),
      |c AS (SELECT user_id, session_id, COUNT(*) AS n_events FROM s GROUP BY 1, 2)
      |SELECT COUNT(*) AS n_sessions,
      |       COUNT(DISTINCT user_id) AS n_users,
      |       MAX(n_events) AS max_session_events,
      |       CAST(SUM(n_events) AS BIGINT) AS n_events
      |FROM c""".stripMargin

  /** q_attribution: first-touch / last-touch revenue attribution — for
    * every purchase, the first and the most recent preceding touch
    * (view/click) in the user's history, rolled up to attributed revenue
    * and conversion counts per (first_touch, last_touch) cell. The
    * marketing-analytics companion to [[asofJoin]]: where as-of attaches
    * ONE most-recent left row, attribution needs both ends of the
    * preceding-touch window.
    *
    * Plan: one shuffle on user_id; `first`/`last` with ignoreNulls over
    * the SAME frame (unbounded-preceding → previous row, ordered by
    * (ts, event_id) — the deterministic tie-break) fuse into a single
    * window pass; purchases with no prior touch fall into the 'none'
    * cell. Per-user partitions — no global window, no join. The rollup is
    * a ≤(touch types+1)² cell grid, partial-aggregated.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    // both window columns in ONE projection → a single Window operator
    // (chained withColumn leaves two, each a full pass over the sorted rows)
    e.select(col("event_type"), col("value"),
        first(touch, ignoreNulls = true).over(w).as("first_touch"),
        last(touch, ignoreNulls = true).over(w).as("last_touch"))
      .filter(col("event_type") === "purchase")
      .groupBy(
        coalesce(col("first_touch"), lit("none")).as("first_touch"),
        coalesce(col("last_touch"), lit("none")).as("last_touch"))
      .agg(count(lit(1)).as("n_conversions"),
           graft.util.Exact.sum2(col("value")).as("attributed_value"))
      .orderBy("first_touch", "last_touch")
  }

  val attributionOracle: String =
    s"""WITH e AS (
       |  SELECT event_id, ts, user_id, event_type, value FROM events
       |  WHERE event_type IN ('view', 'click', 'purchase')),
       |t AS (
       |  SELECT *,
       |    FIRST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
       |                IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
       |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
       |               IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY ts, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
       |  FROM e)
       |SELECT COALESCE(first_touch, 'none') AS first_touch,
       |       COALESCE(last_touch, 'none') AS last_touch,
       |       COUNT(*) AS n_conversions,
       |       ${graft.util.Exact.sum2Sql("value")} AS attributed_value
       |FROM t WHERE event_type = 'purchase'
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q_asof_join: as-of (temporal) join — attach to every purchase the most
    * recent click by the same user at or before the purchase time, the
    * canonical trades↔quotes operator Spark lacks natively.
    *
    * Implemented as the union-and-window form, which is the scale-correct
    * plan: tag both sides, union, and take the running `last` click over
    * `(ts, side, event_id)` order within each user. One shuffle on the join
    * key, no per-row range probe, no nested-loop join — at 100 TB this is a
    * single hash partitioning of both inputs followed by a sorted window
    * pass, and skew lands on ordinary AQE handling. Ordering puts clicks
    * (side 0) before purchases at equal timestamps (`<=` semantics) and
    * breaks click-vs-click ties by max event_id, so the result is total-order
    * deterministic.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
              when(col("event_type") === "click", 0).otherwise(1).as("side"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("last_click",
        last(when(col("side") === 0,
          struct(col("ts").as("click_ts"), col("value").as("click_value"))),
          ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
              col("value").as("purchase_value"),
              col("last_click.click_ts").as("click_ts"),
              col("last_click.click_value").as("click_value"))
      .orderBy("event_id")
  }

  val asofJoinOracle: String =
    """WITH t AS (
      |  SELECT user_id, ts, event_id, value,
      |         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |w AS (
      |  SELECT event_id, user_id, ts, value, side,
      |         LAST_VALUE(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER win AS click_ts,
      |         LAST_VALUE(CASE WHEN side = 0 THEN value END IGNORE NULLS) OVER win AS click_value
      |  FROM t
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, user_id, ts, value AS purchase_value, click_ts, click_value
      |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin

  /** q_range_join: interval (range) join — every (click, purchase) pair by
    * the same user with the purchase inside [click, click + 1 hour).
    *
    * The naive plan is a non-equi join (broadcast nested loop in Spark);
    * the scale plan used here buckets event time into interval-width (1 h)
    * buckets and turns the range probe into an equi-join: a purchase in
    * [c, c+1h) lives in the click's bucket or the next one, so the click
    * side is exploded into those two buckets and the join runs on
    * (user_id, bucket) with the exact range predicate as a post-filter.
    * Work is O(matching-bucket pairs), shuffle keys are
    * (user_id, hour-bucket) — bounded fan-out of 2×, no nested loop, and
    * time-skew spreads across buckets at any scale.
    */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val bucket = (t: org.apache.spark.sql.Column) =>
      floor(t.cast("double") / 3600d).cast("long")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
              explode(array(bucket(col("ts")), bucket(col("ts")) + 1L)).as("b"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
              col("value").as("purchase_value"), bucket(col("ts")).as("b"))
    clicks.join(purchases, Seq("user_id", "b"))
      .filter(col("purchase_ts") >= col("click_ts") &&
              col("purchase_ts").cast("double") < col("click_ts").cast("double") + 3600d)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
           Exact.sum2(col("purchase_value")).as("sum_purchase_value"))
      .orderBy("user_id")
  }

  val rangeJoinOracle: String =
    s"""SELECT c.user_id, COUNT(*) AS n_pairs,
       |       ${Exact.sum2Sql("p.value")} AS sum_purchase_value
       |FROM events c JOIN events p
       |  ON p.user_id = c.user_id
       | AND c.event_type = 'click' AND p.event_type = 'purchase'
       | AND p.ts >= c.ts AND epoch(p.ts) < epoch(c.ts) + 3600
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- rolling-window anomaly detection -------------------------------------

  /** Trailing window width (days) for [[rollingZscore]]; a day is flagged only
    * against a FULL 7-day history, so the series head is never false-flagged.
    */
  val ZscoreWindowDays = 7

  /** z-threshold for [[rollingZscore]] (flag when |x − μ| > Z·σ). */
  val ZscoreZ = 2

  /** q_rolling_zscore: per-type daily-total anomaly detection — the standard
    * "flag days whose metric deviates > Zσ from the trailing-window mean"
    * monitoring pass (here the reference's daily sales totals generalized to
    * the event stream; the window excludes the current day so an anomalous
    * day cannot mask itself).
    *
    * Cross-engine exactness: doubles never survive into the comparison. The
    * daily total is an exact DECIMAL(18,4) sum surfaced as integer
    * ten-thousandths (`units`), and the z-test is evaluated in cross-
    * multiplied integer form — |x·W − S₁| > Z·W·σ becomes
    * (x·W − S₁)² > Z²·(W·S₂ − S₁²) — entirely in bounded-width decimals, so
    * the flag is bit-identical in Spark and DuckDB (no division, no sqrt).
    * Width headroom: every multiplicand is kept at DECIMAL(18,0) so no
    * product exceeds width 37 (DuckDB errors past 38); units ≤ 1e14 (a
    * 10-figure daily metric) keeps dev² ≤ ~5e29 — ample at 100 TB.
    *
    * Scale shape: the corpus-sized event input collapses through ONE
    * map-side combined daily aggregation; the window function runs on the
    * aggregated (type, day) relation — days·types rows, microscopic relative
    * to the input — partitioned by event_type, so at 100 TB the only
    * full-size exchange is the rollup's. High-cardinality keys (per-SKU, per
    * user) partition the same way; no driver loop, no self-join.
    */
  def rollingZscore(spark: SparkSession, dir: String): DataFrame =
    rollingZscoreOf(Tables.events(spark, dir))

  /** [[rollingZscore]] over an arbitrary (event_type, ts, value) relation —
    * split out so specs can plant synthetic spike days.
    */
  def rollingZscoreOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    rollingZscoreOfDaily(events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast(DecimalType(18, 4))).as("total")))
  }

  /** The z-test half of [[rollingZscoreOf]], over an already-rolled-up
    * (event_type, day, n_events, total) relation — shared with the
    * streaming face, whose daily rollup arrives from the drained sink.
    */
  def rollingZscoreOfDaily(dailyIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val (w, z) = (ZscoreWindowDays, ZscoreZ)
    val d18 = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(18, 0))
    val daily = dailyIn
      .withColumn("units", (col("total") * 10000).cast(DecimalType(18, 0)))
    val trail = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-w, -1)
    val win = daily
      .withColumn("w_n", count(lit(1)).over(trail))
      .withColumn("s1", d18(sum(col("units")).over(trail)))
      .withColumn("s2", sum(col("units") * col("units")).over(trail)
        .cast(DecimalType(30, 0)))
    val dev = d18(col("units") * col("w_n") - col("s1"))
    val varTerm = d18(col("w_n")) * col("s2") - col("s1") * col("s1")
    win.select(
      col("event_type"), col("day"), col("n_events"),
      round(col("total"), 2).cast("double").as("sum_value"),
      col("w_n"),
      (col("w_n") === w && dev * dev > lit(z * z) * varTerm)
        .cast("int").as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  /** q_trend_slope: per-type least-squares trend of the daily totals — the
    * "is this metric drifting" monitor next to [[rollingZscore]]'s spike
    * detector. The OLS slope over (day index x, daily units y) is the
    * rational (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²); both sides are exact
    * integer aggregates of the decimal daily totals, so the slope is
    * emitted AS the exact numerator/denominator pair (plus their double
    * quotient for readability) and the up/down/flat verdict is an integer
    * sign — bit-exact cross-engine, no regression library.
    *
    * Scale shape: the corpus-sized input collapses through the same daily
    * rollup as the z-score monitor; the regression is one map-side
    * combined aggregation over days×types rows. Width: x ≤ 10⁴ days,
    * units ≤ 1e14 → n·Σxy ≤ ~1e22, inside DECIMAL(28,0) with headroom.
    */
  def trendSlope(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    // width plan (bounds in scaladoc): sy ≤ DECIMAL(19), sxy ≤ DECIMAL(23),
    // n ≤ DECIMAL(5), sx ≤ DECIMAL(9), sxx ≤ DECIMAL(13) — every product
    // stays under DuckDB's width-38 ceiling with room to spare
    val dec = (w: Int) => (c: org.apache.spark.sql.Column) => c.cast(DecimalType(w, 0))
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast(DecimalType(18, 4))).as("total"))
      .withColumn("y", (col("total") * 10000).cast(DecimalType(18, 0)))
    // day index within each type: rank of the day (1-based) — deterministic
    val w = Window.partitionBy("event_type").orderBy("day")
    val xy = daily.withColumn("x", row_number().over(w).cast("long"))
    val agg = xy.groupBy("event_type")
      .agg(
        count(lit(1)).as("n0"),
        dec(9)(sum(col("x"))).as("sx"),
        dec(19)(sum(dec(19)(col("y")))).as("sy"),
        dec(23)(sum(dec(23)(col("x") * col("y")))).as("sxy"),
        dec(13)(sum(col("x") * col("x"))).as("sxx"))
      .withColumn("n", dec(5)(col("n0")))
    val num = dec(30)(col("n") * col("sxy") - col("sx") * col("sy"))
    val den = dec(20)(col("n") * col("sxx") - col("sx") * col("sx"))
    // Output type contract: internal arithmetic stays wide decimal (the
    // dec(30)/dec(20) intermediates above), but the EMITTED columns are
    // BIGINT — no decimal of ANY width leaves a query (oracle bridges and
    // row hashers diverge on the decimal type class itself, not just on
    // >18-digit widths). Bounds measured at sf0.1: |num| ≤ ~4e10,
    // |den| ≤ ~7e4 — both far inside int64; at corpus scale the slope pair
    // would be re-based (per-window day indices) before it approaches 2⁶³.
    agg.select(
        col("event_type"), col("n0").as("n_days"),
        num.cast("long").as("slope_num"), den.cast("long").as("slope_den"),
        (num.cast("double") / den.cast("double")).as("slope_units_per_day"),
        signum(num.cast("double")).cast("int").as("trend"))
      .orderBy("event_type")
  }

  val trendSlopeOracle: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |         SUM(CAST(value AS DECIMAL(18,4))) AS total
       |  FROM events GROUP BY 1, 2),
       |u AS (SELECT event_type, day, CAST(total * 10000 AS DECIMAL(18,0)) AS y
       |      FROM daily),
       |xy AS (SELECT event_type, y,
       |              CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS x
       |       FROM u),
       |agg AS (
       |  SELECT event_type, COUNT(*) AS n_days,
       |         CAST(COUNT(*) AS DECIMAL(5,0)) AS n,
       |         CAST(SUM(x) AS DECIMAL(9,0)) AS sx,
       |         CAST(SUM(CAST(y AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS sy,
       |         CAST(SUM(CAST(x * y AS DECIMAL(23,0))) AS DECIMAL(23,0)) AS sxy,
       |         CAST(SUM(x * x) AS DECIMAL(13,0)) AS sxx
       |  FROM xy GROUP BY 1)
       |SELECT event_type, n_days,
       |       CAST(CAST(n * sxy - sx * sy AS DECIMAL(30,0)) AS BIGINT) AS slope_num,
       |       CAST(CAST(n * sxx - sx * sx AS DECIMAL(20,0)) AS BIGINT) AS slope_den,
       |       CAST(CAST(n * sxy - sx * sy AS DECIMAL(30,0)) AS DOUBLE)
       |         / CAST(CAST(n * sxx - sx * sx AS DECIMAL(20,0)) AS DOUBLE)
       |         AS slope_units_per_day,
       |       CAST(SIGN(CAST(CAST(n * sxy - sx * sy AS DECIMAL(30,0)) AS DOUBLE)) AS INT) AS trend
       |FROM agg ORDER BY 1""".stripMargin

  val rollingZscoreOracle: String = {
    val (w, z) = (ZscoreWindowDays, ZscoreZ)
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
       |         SUM(CAST(value AS DECIMAL(18,4))) AS total
       |  FROM events GROUP BY 1, 2),
       |u AS (SELECT *, CAST(total * 10000 AS HUGEINT) AS units FROM daily),
       |win AS (
       |  SELECT *,
       |         COUNT(*) OVER t AS w_n,
       |         SUM(units) OVER t AS s1,
       |         SUM(units * units) OVER t AS s2
       |  FROM u
       |  WINDOW t AS (PARTITION BY event_type ORDER BY day
       |               ROWS BETWEEN $w PRECEDING AND 1 PRECEDING))
       |SELECT event_type, day, n_events,
       |       CAST(ROUND(total, 2) AS DOUBLE) AS sum_value,
       |       w_n,
       |       CAST(w_n = $w AND
       |            CAST((units * w_n - s1) * (units * w_n - s1) AS DOUBLE)
       |            > ${z * z} * CAST(w_n * s2 - s1 * s1 AS DOUBLE)
       |            AS INT) AS is_anomaly
       |FROM win ORDER BY 1, 2""".stripMargin
  }

  // --- first-order Markov transition matrix -----------------------------------

  /** Fixed-point probability scale for [[markovNext]] (parts per million) —
    * the quantized-integer determinism idiom shared with PageRank/Lloyd:
    * probabilities are emitted as `n·10⁶ div total`, an exact integer on
    * every engine, never a float ratio.
    */
  val MarkovScale = 1000000L

  /** q_markov_next: first-order Markov transition matrix over per-user event
    * sequences — P(next event type | current event type), the sequence-model
    * summary a training pipeline derives before building next-action
    * datasets (and the empirical prior an event-sampler mixes against).
    * Successor pairing is `lead()` over (user, ts, event_id) — the event_id
    * tiebreak makes same-timestamp ordering deterministic (§4.4-g rule).
    *
    * Scale shape: the sequence window shuffles once on user_id (the same
    * hash partitioning the sessionizer uses — at 100 TB this is the one
    * unavoidable shuffle, and it is key-parallel across users); transitions
    * then collapse to a |types|² relation via one map-side combined count,
    * and the per-source normalizer is a window over that TINY aggregated
    * relation — not a second pass over the corpus.
    */
  def markovNext(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
              col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(seq))
      .filter(col("to_type").isNotNull)
      .select("from_type", "to_type")
    markovOfTransitions(trans)
  }

  /** Shared readout: (from_type, to_type) transition rows → the normalized
    * matrix. Factored out so the streaming face
    * ([[graft.streaming.StreamingQueries.streamMarkovNext]]) drains its
    * state-derived transitions through the identical aggregation (and the
    * identical oracle).
    */
  def markovOfTransitions(trans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byFrom = Window.partitionBy("from_type")
    trans
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("total_from", sum(col("n")).over(byFrom))
      .select(col("from_type"), col("to_type"), col("n"), col("total_from"),
        expr(s"(n * $MarkovScale) div total_from").as("p_ppm"))
      .orderBy("from_type", "to_type")
  }

  val markovNextOracle: String =
    s"""WITH seq AS (
       |  SELECT event_type AS from_type,
       |         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |t AS (SELECT from_type, to_type, COUNT(*) AS n
       |      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2)
       |SELECT from_type, to_type, n,
       |       CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS total_from,
       |       (n * $MarkovScale) // CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
       |FROM t ORDER BY 1, 2""".stripMargin

  // --- opening-trajectory path mining -----------------------------------------

  /** Prefix length for [[pathTopK]]. */
  val PathPrefix = 3

  /** Leaderboard size for [[pathTopK]]. */
  val PathTopK = 15

  /** q_path_topk: top opening trajectories — the first [[PathPrefix]]
    * event types per user joined into a path string, counted and ranked.
    * The behavioral sequence-mining summary next to [[markovNext]]: the
    * matrix gives one-step dynamics, the path leaderboard gives the
    * dominant multi-step openings (what a session-trajectory dataset
    * builder samples against). Ordering is (ts, event_id) — the same
    * deterministic successor rule as the matrix.
    *
    * Scale shape: the only corpus shuffle is the user-keyed rank window,
    * and the `rn <= P` filter over `row_number` plans as a PARTIAL
    * WindowGroupLimit (each task keeps only P rows per user BEFORE the
    * shuffle — the q_sample_weighted two-phase top-k idiom), so path
    * assembly sees ≤P rows per user; path counting is map-side combined
    * and the leaderboard is a distributed top-k.
    */
  def pathTopK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prefix = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PathPrefix)
    val paths = prefix.groupBy("user_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
    paths.groupBy("path")
      .agg(count(lit(1)).as("n_users"))
      .withColumn("path_len",
        (size(split(col("path"), ">", -1))).cast("int"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(PathTopK)
      .select("path", "path_len", "n_users")
  }

  val pathTopKOracle: String =
    s"""WITH e AS (
       |  SELECT user_id, event_type,
       |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events),
       |p AS (
       |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM e WHERE rn <= $PathPrefix GROUP BY 1)
       |SELECT path, CAST(len(string_split(path, '>')) AS INT) AS path_len,
       |       COUNT(*) AS n_users
       |FROM p GROUP BY 1
       |ORDER BY n_users DESC, path LIMIT $PathTopK""".stripMargin

  // --- robust (MAD) outlier days ----------------------------------------------

  /** MAD multiplier for [[madOutliers]] — the classic 3·MAD robust band. */
  val MadK = 3L

  /** q_mad_outliers: robust outlier days per event type via median absolute
    * deviation — the breakdown-resistant sibling of [[rollingZscore]]: a
    * single anomalous day inflates a mean/stddev band enough to hide
    * itself, but not the median/MAD band. All arithmetic is exact: daily
    * totals quantize to integer units (×10⁴, the z-score monitor's scale),
    * medians ride an even-count-safe ×2 fixed point (the average of two
    * integers is exactly representable at ×2), deviations another ×2 — so
    * the flag `4·|x−med| > 3·(4·MAD)` is a pure integer comparison,
    * bit-identical across engines (exact-percentile interpolation at p=0.5
    * is a sum of a long and an exact ×0.5 product on both engines).
    *
    * Scale shape: the corpus collapses through the same map-side combined
    * daily rollup as the z-score monitor; both median passes run over the
    * TINY days×types relation (persisted once — narrow-relation
    * convention), so at 100 TB the cost is the rollup scan, full stop. The
    * exact medians are only affordable BECAUSE they run post-collapse; a
    * pre-collapse percentile would swap to `percentile_approx` (the
    * q_quantile_profile_check-audited path).
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast(DecimalType(18, 4))).as("total"))
      .select(col("event_type"), col("day"),
        (col("total") * 10000).cast(DecimalType(18, 0)).cast("long").as("units"))
      .persist()
    daily.count() // feeds both median passes and the readout
    val med = daily.groupBy("event_type")
      .agg((expr("percentile(units, 0.5)") * 2).cast("long").as("med2"))
    val dev = daily.join(broadcast(med), "event_type")
      .withColumn("dev2", abs(col("units") * 2 - col("med2")))
    val mad = dev.groupBy("event_type")
      .agg((expr("percentile(dev2, 0.5)") * 2).cast("long").as("mad4"))
    val out = dev.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("day"), col("units"), col("med2"), col("mad4"),
        (col("dev2") * 2 > lit(MadK) * col("mad4")).cast("int").as("is_outlier"))
      .orderBy("event_type", "day")
    // daily stays cached through the caller's action (med, dev and mad all
    // reference it lazily); Bench/Verify's clearCache() releases it
    out
  }

  val madOutliersOracle: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |         CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS DECIMAL(18,0)) AS BIGINT) AS units
       |  FROM events GROUP BY 1, 2),
       |m AS (SELECT event_type, CAST(2 * median(units) AS BIGINT) AS med2
       |      FROM daily GROUP BY 1),
       |d AS (SELECT daily.*, m.med2, ABS(2 * units - med2) AS dev2
       |      FROM daily JOIN m USING (event_type)),
       |md AS (SELECT event_type, CAST(2 * median(dev2) AS BIGINT) AS mad4
       |       FROM d GROUP BY 1)
       |SELECT d.event_type, d.day, d.units, d.med2, md.mad4,
       |       CAST(2 * d.dev2 > $MadK * md.mad4 AS INT) AS is_outlier
       |FROM d JOIN md USING (event_type) ORDER BY 1, 2""".stripMargin
}
