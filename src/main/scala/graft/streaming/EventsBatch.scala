package graft.streaming

import graft.functions.FloorLog2.floorLog2
import graft.model.{Silver, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Batch twins of the streaming semantics (SURVEY.md §2.7): tumbling
  * windows over the `events` stream table. The live Structured Streaming
  * wrapper (file source + foreachBatch + completeness gate) lives in
  * [[StreamingIngest]]; these relational forms are the oracle-checkable
  * part — same plan shape batch or micro-batch.
  *
  * events.value is 2-dp (money-like) → DECIMAL casts stay exact. */
object EventsBatch {

  /** Tumbling 1-day window per event type: the reference's "day = filename
    * date" daily aggregation keyed by calendar date
    * (process_upload.py:134; write-metrics:84). */
  def dailyByType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
        col("event_type"),
        col("value").cast(Tables.Money).as("value_dec"))
      .groupBy(col("event_date"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value_dec")).as("sum_dec"),
        min(col("value_dec")).as("min_dec"),
        max(col("value_dec")).as("max_dec"))
      .select(col("event_date"), col("event_type"), col("n_events"),
        col("sum_dec").cast("double").as("total_value"),
        col("min_dec").cast("double").as("min_value"),
        col("max_dec").cast("double").as("max_value"))
      .orderBy(col("event_date"), col("event_type"))

  val dailyByTypeSql: String =
    """SELECT
      |  strftime(ts, '%Y-%m-%d') AS event_date,
      |  event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_value,
      |  CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Tumbling 1-hour windows (window() produces the struct; emitted as
    * string bounds for portability) with per-user-bucket salting hook:
    * the hour key is already high-cardinality so no salt needed. */
  def hourlyWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("n_users"))
      .orderBy(col("window_start"), col("event_type"))

  val hourlyWindowSql: String =
    """SELECT
      |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** e10: hourly VOLUME anomalies — a11's deviation rubric applied to
    * the event stream: each (event_type, hour) count against the average
    * of its trailing `histHours` OBSERVED hours (the a10 convention:
    * reported periods, not calendar-filled ones — a silent hour is
    * itself an anomaly a completeness check owns, j3's concern). The
    * baseline is integer-exact (sum/count of longs, one double division
    * at the edge), so the whole relation hash-compares despite the float
    * deviation column. Severity thresholds are a11's.
    *
    * Scale: one (event_type) window over the hour sequence — frames are
    * histHours-bounded, types are a small dimension; the hourly rollup
    * itself is e2's map-combinable aggregate. */
  def hourlyAnomalies(spark: SparkSession, dir: String,
                      histHours: Int = 24, minHist: Int = 3): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("window_start"))
      .rowsBetween(-histHours, -1)
    hourlyWindow(spark, dir)
      .withColumn("hist_hours", count(col("n_events")).over(w))
      .withColumn("hist_total", sum(col("n_events")).over(w))
      .filter(col("hist_hours") >= minHist)
      .withColumn("hist_avg",
        col("hist_total").cast("double") / col("hist_hours").cast("double"))
      .withColumn("deviation_pct",
        (col("n_events").cast("double") - col("hist_avg")) / col("hist_avg") * 100)
      .withColumn("severity",
        when(abs(col("deviation_pct")) > 50, "critical")
          .when(abs(col("deviation_pct")) > 25, "warning")
          .otherwise("info"))
      .select(col("window_start"), col("event_type"), col("n_events"),
        col("hist_hours"), col("hist_avg"), col("deviation_pct"),
        col("severity"))
      .orderBy(col("window_start"), col("event_type"))
  }

  def hourlyAnomaliesSql(histHours: Int = 24, minHist: Int = 3): String =
    s"""WITH h AS ($hourlyWindowSql),
       |t AS (
       |  SELECT window_start, event_type, n_events,
       |    COUNT(n_events) OVER w AS hist_hours,
       |    CAST(SUM(n_events) OVER w AS BIGINT) AS hist_total
       |  FROM h
       |  WINDOW w AS (PARTITION BY event_type ORDER BY window_start
       |    ROWS BETWEEN $histHours PRECEDING AND 1 PRECEDING)),
       |d AS (
       |  SELECT window_start, event_type, n_events,
       |    CAST(hist_hours AS BIGINT) AS hist_hours,
       |    CAST(hist_total AS DOUBLE) / CAST(hist_hours AS DOUBLE) AS hist_avg
       |  FROM t WHERE hist_hours >= $minHist)
       |SELECT window_start, event_type, n_events, hist_hours, hist_avg,
       |  (CAST(n_events AS DOUBLE) - hist_avg) / hist_avg * 100 AS deviation_pct,
       |  CASE
       |    WHEN ABS((CAST(n_events AS DOUBLE) - hist_avg) / hist_avg * 100) > 50
       |      THEN 'critical'
       |    WHEN ABS((CAST(n_events AS DOUBLE) - hist_avg) / hist_avg * 100) > 25
       |      THEN 'warning'
       |    ELSE 'info' END AS severity
       |FROM d ORDER BY window_start, event_type""".stripMargin

  /** e3: semi-structured props parse — `from_json` on the JSON props
    * column (the reference's LLM-output JSON parse shape,
    * detect-anomalies:280-301: strip → parse → extract typed fields) +
    * aggregation over the extracted value. The oracle extracts the same
    * integer with a regex (same values; the Spark side is the operator
    * under test). */
  def propsParse(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(StructField("k", LongType)))
    Tables.events(spark, dir)
      .withColumn("k", from_json(col("props"), schema).getField("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .select(col("event_type"), col("n_events"), col("sum_k"),
        (col("sum_k").cast("double") / col("n_events")).as("avg_k"),
        col("min_k"), col("max_k"))
      .orderBy(col("event_type"))
  }

  val propsParseSql: String =
    """SELECT event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_k,
      |  MIN(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS min_k,
      |  MAX(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** e4: sessionization — the canonical stateful-streaming operation as
    * its batch window-function twin (in live streaming this is
    * `session_window($"ts", "30 minutes")` / flatMapGroupsWithState; the
    * algebra — gap > 30 min starts a new session — is identical). Per
    * user: lag → gap flag → running sum = session id; then session counts
    * and sizes. One shuffle on user_id. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      // integer-microsecond floor-division on BOTH engines (epoch(ts) in
      // DuckDB is a double and would round, not floor, at cast)
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          expr("unix_micros(ts) div 1000000") - expr("unix_micros(prev_ts) div 1000000") > 1800,
          1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("session_events"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("session_events")).as("n_events"),
        max(col("session_events")).as("max_session_events"))
      .select(col("user_id"), col("n_sessions"), col("n_events"),
        (col("n_events").cast("double") / col("n_sessions")).as("avg_session_events"),
        col("max_session_events"))
      .orderBy(col("user_id"))
  }

  val sessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 > 1800
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessioned AS (
      |  SELECT user_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged),
      |per_session AS (
      |  SELECT user_id, session_id, COUNT(*) AS session_events
      |  FROM sessioned GROUP BY 1, 2)
      |SELECT user_id,
      |  COUNT(*) AS n_sessions,
      |  CAST(SUM(session_events) AS BIGINT) AS n_events,
      |  CAST(SUM(session_events) AS DOUBLE) / COUNT(*) AS avg_session_events,
      |  MAX(session_events) AS max_session_events
      |FROM per_session
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** e6: conversion funnel view → click → purchase per user — each stage
    * must happen strictly AFTER the previous one (first-touch
    * attribution: min event time per stage). Three aggregate+join rounds,
    * all hash-partitioned on user_id; timestamps compared as integer
    * microseconds (engine-exact). */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val v = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("us"))).as("t_view"))
    val c = e.join(v, Seq("user_id"))
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(when(col("event_type") === "click" && col("us") > col("t_view"),
        col("us"))).as("t_click"))
    val p = e.join(c, Seq("user_id"))
      .groupBy(col("user_id"), col("t_view"), col("t_click"))
      .agg(min(when(col("event_type") === "purchase" && col("us") > col("t_click"),
        col("us"))).as("t_purchase"))
    p.select(
        col("user_id"),
        col("t_view").isNotNull.as("reached_view"),
        col("t_click").isNotNull.as("reached_click"),
        col("t_purchase").isNotNull.as("reached_purchase"),
        (col("t_click") - col("t_view")).as("view_to_click_us"),
        (col("t_purchase") - col("t_click")).as("click_to_purchase_us"))
      .orderBy(col("user_id"))
  }

  /** e22: TIME-WINDOWED FUNNEL — e6 with the conversion-window rule a
    * production funnel actually ships: each stage must land within
    * `windowUs` of the PREVIOUS stage (an unbounded funnel credits a
    * click to a view from last month; position-based attribution and
    * funnel dashboards both cap the gap). Same three agg/join rounds
    * on user_id as e6, with the window bound folded into each stage's
    * min-over-candidates — integer-microsecond comparisons, exact in
    * both engines. The conversion counts drop versus e6 exactly where
    * stage gaps exceed the window (the spec asserts containment:
    * every windowed conversion is an e6 conversion). */
  def windowedFunnel(spark: SparkSession, dir: String,
                     windowUs: Long = 1800000000L): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
    val v = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("us"))).as("t_view"))
    val c = e.join(v, Seq("user_id"))
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(when(col("event_type") === "click" && col("us") > col("t_view") &&
        col("us") - col("t_view") <= windowUs, col("us"))).as("t_click"))
    val p = e.join(c, Seq("user_id"))
      .groupBy(col("user_id"), col("t_view"), col("t_click"))
      .agg(min(when(col("event_type") === "purchase" && col("us") > col("t_click") &&
        col("us") - col("t_click") <= windowUs, col("us"))).as("t_purchase"))
    p.select(
        col("user_id"),
        col("t_view").isNotNull.as("reached_view"),
        col("t_click").isNotNull.as("reached_click"),
        col("t_purchase").isNotNull.as("reached_purchase"),
        (col("t_click") - col("t_view")).as("view_to_click_us"),
        (col("t_purchase") - col("t_click")).as("click_to_purchase_us"))
      .orderBy(col("user_id"))
  }

  def windowedFunnelSql(windowUs: Long = 1800000000L): String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       |v AS (
       |  SELECT user_id,
       |    MIN(CASE WHEN event_type = 'view' THEN us END) AS t_view
       |  FROM e GROUP BY user_id),
       |c AS (
       |  SELECT e.user_id, v.t_view,
       |    MIN(CASE WHEN e.event_type = 'click' AND e.us > v.t_view
       |      AND e.us - v.t_view <= $windowUs THEN e.us END) AS t_click
       |  FROM e JOIN v USING (user_id) GROUP BY e.user_id, v.t_view),
       |p AS (
       |  SELECT e.user_id, c.t_view, c.t_click,
       |    MIN(CASE WHEN e.event_type = 'purchase' AND e.us > c.t_click
       |      AND e.us - c.t_click <= $windowUs THEN e.us END) AS t_purchase
       |  FROM e JOIN c USING (user_id) GROUP BY e.user_id, c.t_view, c.t_click)
       |SELECT user_id,
       |  t_view IS NOT NULL AS reached_view,
       |  t_click IS NOT NULL AS reached_click,
       |  t_purchase IS NOT NULL AS reached_purchase,
       |  t_click - t_view AS view_to_click_us,
       |  t_purchase - t_click AS click_to_purchase_us
       |FROM p
       |ORDER BY user_id""".stripMargin

  val funnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |v AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN us END) AS t_view
      |  FROM e GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, v.t_view,
      |    MIN(CASE WHEN e.event_type = 'click' AND e.us > v.t_view THEN e.us END) AS t_click
      |  FROM e JOIN v USING (user_id) GROUP BY e.user_id, v.t_view),
      |p AS (
      |  SELECT e.user_id, c.t_view, c.t_click,
      |    MIN(CASE WHEN e.event_type = 'purchase' AND e.us > c.t_click THEN e.us END) AS t_purchase
      |  FROM e JOIN c USING (user_id) GROUP BY e.user_id, c.t_view, c.t_click)
      |SELECT user_id,
      |  t_view IS NOT NULL AS reached_view,
      |  t_click IS NOT NULL AS reached_click,
      |  t_purchase IS NOT NULL AS reached_purchase,
      |  t_click - t_view AS view_to_click_us,
      |  t_purchase - t_click AS click_to_purchase_us
      |FROM p
      |ORDER BY user_id""".stripMargin

  /** e5: sliding (hopping) 1-hour windows every 30 minutes — each event
    * lands in exactly two windows. Spark's `window(ts, "1 hour",
    * "30 minutes")`; the oracle replays the same two-window expansion with
    * integer epoch arithmetic. */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"))
      .orderBy(col("window_start"), col("event_type"))

  val slidingWindowSql: String =
    """WITH expanded AS (
      |  SELECT to_timestamp((epoch_us(ts) // 1000000 // 1800) * 1800) AS w, event_type FROM events
      |  UNION ALL
      |  SELECT to_timestamp((epoch_us(ts) // 1000000 // 1800) * 1800 - 1800) AS w, event_type FROM events)
      |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, COUNT(*) AS n_events
      |FROM expanded
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** e7: weekly cohort retention — each user's cohort is the Monday of
    * their first active week; for every (cohort, week-offset) cell, the
    * distinct users still active and the retention ratio vs the cohort
    * size. The classic triangular retention matrix, built as three hash
    * aggregations on user_id / cohort_week (no window functions, no
    * per-user driver state) — the shape survives any user-count scale-up
    * because every stage is keyed and map-side combinable. Week offsets
    * are exact integer day-diffs / 7 (both weeks are date_trunc'd Mondays,
    * so the division is exact — engine-portable integer math). */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"),
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"))
      .distinct()
    val cohort = uw.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    uw.join(cohort, Seq("user_id"))
      .withColumn("week_offset",
        (datediff(to_date(col("week")), to_date(col("cohort_week"))) / 7).cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .join(sizes, Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("active_users"),
        col("cohort_size"),
        (col("active_users").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val retentionSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |    strftime(date_trunc('week', ts), '%Y-%m-%d') AS week
      |  FROM events),
      |cohort AS (
      |  SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id),
      |sizes AS (
      |  SELECT cohort_week, COUNT(*) AS cohort_size FROM cohort GROUP BY cohort_week),
      |cells AS (
      |  SELECT c.cohort_week,
      |    date_diff('day', CAST(c.cohort_week AS DATE), CAST(u.week AS DATE)) // 7 AS week_offset,
      |    COUNT(DISTINCT u.user_id) AS active_users
      |  FROM uw u JOIN cohort c USING (user_id)
      |  GROUP BY 1, 2)
      |SELECT cells.cohort_week, cells.week_offset, cells.active_users,
      |  sizes.cohort_size,
      |  CAST(cells.active_users AS DOUBLE) / CAST(sizes.cohort_size AS DOUBLE) AS retention
      |FROM cells JOIN sizes USING (cohort_week)
      |ORDER BY 1, 2""".stripMargin

  /** e8: AS-OF JOIN — for every purchase, the latest view by the same
    * user at or before it (last-touch attribution + conversion latency).
    * Spark lacks a native as-of join; the scalable composition is the
    * union-and-running-window form: tag both sides, sort each user's
    * events by time within one hash partition, and carry the most recent
    * view timestamp forward with a running MAX — ONE shuffle on user_id,
    * no per-row probe, no range self-join blowup (this is how a temporal
    * join lowers onto a shuffle engine; pandas merge_asof / Flink
    * temporal joins do the same per key). Views sort before purchases at
    * equal timestamps (kind 0 < 1), matching ASOF's `v.ts <= p.ts`
    * inclusive bound. The oracle is DuckDB's native ASOF LEFT JOIN.
    * Timestamps compare as integer microseconds (engine-exact, like e6);
    * never-seen-a-view carries -1 sentinels (never nulls). */
  def asOfAttribution(spark: SparkSession, dir: String): DataFrame =
    asOfAttributionOf(Tables.events(spark, dir))

  /** Core of e8 over any (event_id, user_id, ts, event_type) relation —
    * factored out so specs can pin the as-of semantics on hand fixtures. */
  def asOfAttributionOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts)").as("us"),
        when(col("event_type") === "view", 0).otherwise(1).as("kind"))
      .withColumn("last_view_us", max(when(col("kind") === 0, col("us"))).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"),
        col("us").as("purchase_us"),
        coalesce(col("last_view_us"), lit(-1L)).as("view_us"),
        coalesce(col("us") - col("last_view_us"), lit(-1L)).as("latency_us"))
      .orderBy(col("event_id"))
  }

  val asOfAttributionSql: String =
    """WITH v AS (
      |  SELECT user_id, ts FROM events WHERE event_type = 'view'),
      |p AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id,
      |  epoch_us(p.ts) AS purchase_us,
      |  COALESCE(epoch_us(v.ts), -1) AS view_us,
      |  COALESCE(epoch_us(p.ts) - epoch_us(v.ts), -1) AS latency_us
      |FROM p ASOF LEFT JOIN v
      |  ON p.user_id = v.user_id AND v.ts <= p.ts
      |ORDER BY p.event_id""".stripMargin

  /** e9: INTERVAL JOIN — every (view, purchase) pair of the same user
    * with the view inside the purchase's trailing 30-minute window. The
    * complement of e8's as-of (latest view only): attribution models
    * that weight ALL touches in a window (position-based, time-decay)
    * consume exactly this relation. Lowered as an equi-join on user_id
    * carrying the range predicate — one exchange pair, never a
    * range-only cross product.
    *
    * [[intervalJoinOf]] is written on the TIMESTAMP columns so the SAME
    * function runs under Structured Streaming as a watermarked
    * stream-stream interval join (the range on event-time columns is
    * what lets the engine bound join state to the interval + watermark
    * horizon) — batch/streaming parity is one code path, spec-asserted. */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    intervalJoinOf(views, purchases)
      .orderBy(col("purchase_id"), col("view_id"))
  }

  /** The join itself over (view_id, v_user, view_ts) × (purchase_id,
    * p_user, purchase_ts) — batch or watermarked streams alike. */
  def intervalJoinOf(views: DataFrame, purchases: DataFrame): DataFrame =
    views.join(purchases,
      col("v_user") === col("p_user") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES") &&
        col("view_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("view_id"), col("v_user").as("user_id"),
        expr("unix_micros(purchase_ts)").as("purchase_us"),
        expr("unix_micros(view_ts)").as("view_us"),
        (expr("unix_micros(purchase_ts)") - expr("unix_micros(view_ts)"))
          .as("gap_us"))

  val intervalJoinSql: String =
    """WITH v AS (
      |  SELECT event_id AS view_id, user_id, ts FROM events
      |  WHERE event_type = 'view'),
      |p AS (
      |  SELECT event_id AS purchase_id, user_id, ts FROM events
      |  WHERE event_type = 'purchase')
      |SELECT p.purchase_id, v.view_id, p.user_id,
      |  epoch_us(p.ts) AS purchase_us,
      |  epoch_us(v.ts) AS view_us,
      |  epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
      |FROM p JOIN v ON p.user_id = v.user_id
      |  AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts
      |ORDER BY p.purchase_id, v.view_id""".stripMargin

  /** e26: TIME-DECAY multi-touch attribution — the weighting model the
    * e9 interval relation exists to feed: every view in the purchase's
    * trailing 30-minute window earns credit that HALVES per 10 minutes
    * of gap (weight_milli 1000/500/250, and 125 at the exact-30-min
    * boundary), each purchase's credit normalized to shares. Weights
    * are a 4-arm integer CASE on `gap_us DIV 10min` — no pow()/exp()
    * libm, engine-exact — and the share is ONE double division of two
    * exact integers (the house parity rule). Scale shape: the window
    * partitions by (user_id, purchase_id), a superset of the interval
    * join's user_id hash, so the normalization RIDES the join's
    * exchange — no new shuffle on top of e9's pair (plan-gated). */
  def decayAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    val w = Window.partitionBy(col("user_id"), col("purchase_id"))
    intervalJoinOf(views, purchases)
      .withColumn("weight_milli",
        when(expr("gap_us DIV 600000000") === 0, 1000L)
          .when(expr("gap_us DIV 600000000") === 1, 500L)
          .when(expr("gap_us DIV 600000000") === 2, 250L)
          .otherwise(125L))
      .withColumn("n_touches", count(lit(1)).over(w))
      .withColumn("share", col("weight_milli").cast("double") /
        sum(col("weight_milli")).over(w).cast("double"))
      .select(col("purchase_id"), col("view_id"), col("user_id"),
        col("gap_us"), col("weight_milli"), col("n_touches"), col("share"))
      .orderBy(col("purchase_id"), col("view_id"))
  }

  val decayAttributionSql: String =
    """WITH v AS (
      |  SELECT event_id AS view_id, user_id, ts FROM events
      |  WHERE event_type = 'view'),
      |p AS (
      |  SELECT event_id AS purchase_id, user_id, ts FROM events
      |  WHERE event_type = 'purchase'),
      |pairs AS (
      |  SELECT p.purchase_id, v.view_id, p.user_id,
      |    epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
      |  FROM p JOIN v ON p.user_id = v.user_id
      |    AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts <= p.ts),
      |wtd AS (
      |  SELECT *, CAST(CASE gap_us // 600000000
      |    WHEN 0 THEN 1000 WHEN 1 THEN 500 WHEN 2 THEN 250
      |    ELSE 125 END AS BIGINT) AS weight_milli
      |  FROM pairs)
      |SELECT purchase_id, view_id, user_id, gap_us, weight_milli,
      |  CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n_touches,
      |  CAST(weight_milli AS DOUBLE) /
      |    CAST(SUM(weight_milli) OVER (PARTITION BY purchase_id) AS DOUBLE)
      |    AS share
      |FROM wtd ORDER BY purchase_id, view_id""".stripMargin

  /** e11: funnel CONVERSION-LATENCY distribution — how long converting
    * users take per e6 stage transition (view→click, click→purchase):
    * count, min/max, total, and EXACT nearest-rank p50/p90 (the value at
    * rank ⌈q·n⌉ of the ascending order — an actual data point, so
    * integer-exact and engine-portable where interpolated quantile
    * definitions diverge). Ties on equal latencies are harmless: any
    * tie-order puts the same VALUE at the picked rank.
    *
    * Scale posture: the rank window partitions by stage — 2 bounded
    * partitions, each a per-stage total order over CONVERTING users
    * (≪ events). That sort is this key's deliberate cost: e11 is the
    * exact certifier of the sketch path (sk2's mergeable approx
    * quantiles are what runs at 100 TB), the same exact/approx twin
    * contract as sk1–sk3. */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val base = funnel(spark, dir)
    val lat = base.filter(col("view_to_click_us").isNotNull)
      .select(lit("view_to_click").as("stage"), col("view_to_click_us").as("us"))
      .unionAll(base.filter(col("click_to_purchase_us").isNotNull)
        .select(lit("click_to_purchase").as("stage"),
          col("click_to_purchase_us").as("us")))
    val w = Window.partitionBy("stage").orderBy("us")
    lat.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("stage")))
      .groupBy("stage").agg(
        max("n").as("n_conversions"),
        min("us").as("min_us"), max("us").as("max_us"),
        sum("us").as("total_us"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("us"))).as("p50_us"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("us"))).as("p90_us"))
      .orderBy("stage")
  }

  val funnelLatencySql: String =
    s"""WITH base AS ($funnelSql),
       |lat AS (
       |  SELECT 'view_to_click' AS stage, view_to_click_us AS us
       |  FROM base WHERE view_to_click_us IS NOT NULL
       |  UNION ALL
       |  SELECT 'click_to_purchase' AS stage, click_to_purchase_us AS us
       |  FROM base WHERE click_to_purchase_us IS NOT NULL),
       |ranked AS (
       |  SELECT stage, us,
       |    ROW_NUMBER() OVER (PARTITION BY stage ORDER BY us) AS rn,
       |    COUNT(*) OVER (PARTITION BY stage) AS n
       |  FROM lat)
       |SELECT stage, CAST(MAX(n) AS BIGINT) AS n_conversions,
       |  CAST(MIN(us) AS BIGINT) AS min_us, CAST(MAX(us) AS BIGINT) AS max_us,
       |  CAST(SUM(us) AS BIGINT) AS total_us,
       |  CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN us END) AS BIGINT) AS p50_us,
       |  CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN us END) AS BIGINT) AS p90_us
       |FROM ranked GROUP BY stage ORDER BY stage""".stripMargin

  /** e12: CDC LATEST-STATE compaction — the merge-on-read snapshot every
    * lakehouse maintenance job materializes from an upsert log: one row
    * per entity (user) carrying its latest version (max ts, event_id the
    * deterministic tie-break) plus the bookkeeping a compaction planner
    * reads — n_versions (rows a rewrite would collapse) and the first-seen
    * timestamp. The reference's idempotent re-delivery story
    * (process_upload.py's overwrite-by-day) is the file-level analogue;
    * this is the row-level one.
    *
    * Scale posture: deliberately NOT a row_number window — that shape
    * sorts every key group at 100 TB. The latest version is
    * max(struct(ts, event_id, payload…)): an ordinary map-side-combinable
    * hash aggregate, ONE exchange on the entity key, partial maxes
    * collapse before the shuffle so it carries one candidate row per
    * (map partition, key). The struct ordering is total (event_id is
    * unique), so the snapshot is deterministic on any partition layout,
    * and AQE's skew split applies cleanly because the agg is algebraic. */
  def latestState(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"),
        struct(col("ts"), col("event_id"), col("event_type"),
          col("value").cast(Tables.Money).as("value_dec")).as("v"))
      .groupBy("user_id")
      .agg(max(col("v")).as("last"),
        count(lit(1)).as("n_versions"),
        min(col("ts")).as("first_ts"))
      .select(col("user_id"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_type"),
        col("last.value_dec").cast("double").as("last_value"),
        expr("unix_micros(last.ts)").as("last_ts_us"),
        expr("unix_micros(first_ts)").as("first_ts_us"),
        col("n_versions"))
      .orderBy("user_id")

  val latestStateSql: String =
    """WITH ranked AS (
      |  SELECT user_id, event_id, event_type, value, ts,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY ts DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_versions,
      |    MIN(ts) OVER (PARTITION BY user_id) AS first_ts
      |  FROM events)
      |SELECT user_id, last_event_id, last_type, last_value, last_ts_us,
      |  first_ts_us, n_versions FROM (
      |  SELECT user_id,
      |    event_id AS last_event_id,
      |    event_type AS last_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS last_value,
      |    epoch_us(ts) AS last_ts_us,
      |    epoch_us(first_ts) AS first_ts_us,
      |    CAST(n_versions AS BIGINT) AS n_versions
      |  FROM ranked WHERE rn = 1)
      |ORDER BY user_id""".stripMargin

  /** e13: growth accounting — the canonical DAU decomposition every
    * product-analytics stack computes (new / retained / resurrected per
    * day, churned derived from the day-over-day identity). Reference
    * analog: the completeness/trend family tracks per-store activity the
    * same way (backend/analytics-processing/lambda_function.py trend
    * paths); this is the user-dimension twin over `events`.
    *
    * Scale shape: distinct (user, day) → ONE user-key exchange for the
    * lag window (per-user sort is bounded by #days a user is active, not
    * corpus size) → day-level rollup. The final day table is
    * calendar-bounded (~365 rows/year), so its ordering window is
    * driver-trivial; nothing per-user ever reaches a global sort. Churn
    * is reported against the immediately preceding calendar day (the
    * only day for which "active then, silent now" is decided by the
    * identity n_churned = prev_active − n_retained); a day following a
    * gap gets NULL, never a guess. */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val active = Tables.events(spark, dir)
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
      .distinct()
    val perUser = Window.partitionBy(col("user_id")).orderBy(col("event_date"))
    val classified = active
      .withColumn("prev_date", lag(col("event_date"), 1).over(perUser))
      .withColumn("status",
        when(col("prev_date").isNull, lit("new"))
          .when(datediff(to_date(col("event_date")), to_date(col("prev_date"))) === 1,
            lit("retained"))
          .otherwise(lit("resurrected")))
    val daily = classified.groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("status") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("status") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
    val byDay = Window.orderBy(col("event_date")) // calendar-bounded relation
    daily
      .withColumn("prev_day", lag(col("event_date"), 1).over(byDay))
      .withColumn("prev_active", lag(col("n_active"), 1).over(byDay))
      .withColumn("n_churned",
        when(datediff(to_date(col("event_date")), to_date(col("prev_day"))) === 1,
          col("prev_active") - col("n_retained")))
      .select(col("event_date"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"), col("n_churned"))
      .orderBy(col("event_date"))
  }

  val growthAccountingSql: String =
    """WITH active AS (
      |  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS event_date
      |  FROM events),
      |classified AS (
      |  SELECT event_date,
      |    CASE
      |      WHEN prev_date IS NULL THEN 'new'
      |      WHEN date_diff('day', CAST(prev_date AS DATE),
      |                     CAST(event_date AS DATE)) = 1 THEN 'retained'
      |      ELSE 'resurrected' END AS status
      |  FROM (
      |    SELECT event_date,
      |      LAG(event_date) OVER (PARTITION BY user_id ORDER BY event_date)
      |        AS prev_date
      |    FROM active)),
      |daily AS (
      |  SELECT event_date,
      |    COUNT(*) AS n_active,
      |    CAST(SUM(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_new,
      |    CAST(SUM(CASE WHEN status = 'retained' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_retained,
      |    CAST(SUM(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_resurrected
      |  FROM classified GROUP BY 1)
      |SELECT event_date,
      |  CAST(n_active AS BIGINT) AS n_active,
      |  n_new, n_retained, n_resurrected,
      |  CAST(CASE WHEN date_diff('day',
      |      CAST(LAG(event_date) OVER (ORDER BY event_date) AS DATE),
      |      CAST(event_date AS DATE)) = 1
      |    THEN LAG(n_active) OVER (ORDER BY event_date) - n_retained
      |    END AS BIGINT) AS n_churned
      |FROM daily
      |ORDER BY event_date""".stripMargin

  /** e14: event-type transition matrix — per-user next-event bigrams
    * (the Markov-chain fit behind "what do users do after X"
    * click-path analytics). LEAD over the per-user ordered stream
    * (event_id tiebreak makes the order total), then a (from, to)
    * rollup whose output is |types|² — tiny at any corpus size. The
    * transition probability divides two exact BIGINTs in DOUBLE
    * (deterministic IEEE, same in both engines — the e6/retention
    * convention). ONE user-key exchange; the from-type share window
    * runs on the |types|²-bounded rollup. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val byFrom = Window.partitionBy(col("from_type")) // |types|²-bounded
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(perUser))
      .where(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("p_trans",
        col("n_trans").cast("double") /
          sum(col("n_trans")).over(byFrom).cast("double"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val eventTransitionsSql: String =
    """WITH pairs AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |counts AS (
      |  SELECT from_type, to_type, COUNT(*) AS n_trans
      |  FROM pairs WHERE to_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT from_type, to_type, CAST(n_trans AS BIGINT) AS n_trans,
      |  CAST(n_trans AS DOUBLE) /
      |    CAST(SUM(n_trans) OVER (PARTITION BY from_type) AS DOUBLE)
      |    AS p_trans
      |FROM counts
      |ORDER BY from_type, to_type""".stripMargin

  /** e27: PAGERANK over the event-type transition graph — e14's Markov
    * matrix closed into the stationary-importance ranking (the
    * random-surfer centrality of each event type in user journeys).
    * Three power iterations UNROLLED in pure integer micro-units
    * (total mass 1e6): damping 850/1000, per-edge contribution
    * `(850 · ((rank · c) DIV out)) DIV 1000` — the inner division
    * first so the widest product is rank·c ≤ 1e6·|edge count| (no
    * 64-bit overflow until edge counts pass ~9e12), every floor
    * identical in both engines, no doubles anywhere. Dangling types
    * (never a predecessor) keep the teleport base; types with no
    * in-edges decay to it — standard simplifications, deterministic.
    *
    * Scale shape: this IS distributed PageRank's join-agg kernel —
    * each iteration joins the rank relation to the edge relation and
    * re-aggregates per destination (the d6/d10 iteration algebra on a
    * weighted graph). Here nodes = |event types| so every relation is
    * tiny, but the code shape is the one that runs when nodes are
    * pages: rank join edges on src, contribution agg on dst, one
    * exchange pair per iteration. */
  /** The (from, to, count) transition-edge relation + degree + node
    * silvers shared by e27/e28 — |types|²-bounded leaves,
    * Silver-memoized so the two graph keys (and repeated calls) build
    * them once per session. */
  private def typeEdges(spark: SparkSession, dir: String): DataFrame =
    graft.model.Silver.memoize(spark, "typeEdges", dir) {
      val perUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(perUser))
        .where(col("to_type").isNotNull)
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("c"))
    }

  private def typeOutDeg(spark: SparkSession, dir: String): DataFrame =
    graft.model.Silver.memoize(spark, "typeOutDeg", dir) {
      typeEdges(spark, dir).groupBy(col("from_type"))
        .agg(sum(col("c")).cast("long").as("outc"))
    }

  private def typeNodes(spark: SparkSession, dir: String): DataFrame =
    graft.model.Silver.memoize(spark, "typeNodes", dir) {
      Tables.events(spark, dir)
        .select(col("event_type").as("etype")).distinct()
    }

  def typePagerank(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    val edges = typeEdges(spark, dir)
    val outDeg = typeOutDeg(spark, dir)
    val nodes = typeNodes(spark, dir)
    val n = nodes.count()
    val base = 150000L / n
    var r = nodes.withColumn("rank_micro", lit(1000000L / n))
    (1 to iters).foreach { _ =>
      // rank + degree relations are |types|-bounded here, so they meet
      // the edge stream by broadcast (at page scale rank is edge-sized
      // and this flips to the shuffled join — the shape is unchanged)
      val contribs = edges
        .join(broadcast(outDeg), "from_type")
        .join(broadcast(r), col("from_type") === col("etype"))
        .select(col("to_type"),
          expr("(850 * ((rank_micro * c) DIV outc)) DIV 1000").as("contrib"))
        .groupBy(col("to_type")).agg(sum(col("contrib")).cast("long").as("s"))
      r = nodes.join(broadcast(contribs), col("etype") === col("to_type"), "left")
        .select(col("etype"),
          (lit(base) + coalesce(col("s"), lit(0L))).as("rank_micro"))
    }
    r.join(broadcast(outDeg), col("etype") === col("from_type"), "left")
      .select(col("etype").as("event_type"),
        coalesce(col("outc"), lit(0L)).as("out_transitions"),
        col("rank_micro"))
      .orderBy(col("event_type"))
  }

  val typePagerankSql: String = {
    def iterCte(prev: String, cur: String): String =
      s"""c$cur AS (
         |  SELECT e.to_type AS etype,
         |    CAST(SUM((850 * ((r.rank_micro * e.c) // o.outc)) // 1000)
         |      AS BIGINT) AS s
         |  FROM edges e
         |  JOIN outd o ON e.from_type = o.from_type
         |  JOIN $prev r ON r.etype = e.from_type
         |  GROUP BY 1),
         |$cur AS (
         |  SELECT nodes.etype,
         |    (150000 // nn.n) + COALESCE(c$cur.s, 0) AS rank_micro
         |  FROM nodes CROSS JOIN nn
         |  LEFT JOIN c$cur ON c$cur.etype = nodes.etype)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT event_type AS from_type,
       |    LEAD(event_type) OVER (PARTITION BY user_id
       |                           ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |edges AS (
       |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |outd AS (
       |  SELECT from_type, CAST(SUM(c) AS BIGINT) AS outc
       |  FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT event_type AS etype FROM events),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (
       |  SELECT etype, 1000000 // nn.n AS rank_micro
       |  FROM nodes CROSS JOIN nn),
       |${iterCte("r0", "r1")},
       |${iterCte("r1", "r2")},
       |${iterCte("r2", "r3")}
       |SELECT r3.etype AS event_type,
       |  COALESCE(outd.outc, 0) AS out_transitions,
       |  CAST(r3.rank_micro AS BIGINT) AS rank_micro
       |FROM r3 LEFT JOIN outd ON r3.etype = outd.from_type
       |ORDER BY event_type""".stripMargin
  }

  /** e30: A/B EXPERIMENT READOUT — the two-proportion test every
    * product experiment ends in, with the assignment done RIGHT for a
    * distributed engine: arms come from p7's deterministic
    * multiplicative hash of user_id (retry/replay-stable, uniform,
    * reproducible by any engine — never rand()), so the same user is
    * in the same arm on every run of every system that reads the
    * events. Conversion = purchase-heavy user (purchases ≥ 30% of the
    * user's events — an exact integer predicate, np·10 ≥ 3·n). All
    * counts are exact; rates are integer milli; the pooled
    * two-proportion z-score is the one double chain at the end, in a
    * fixed operation order both engines execute identically, and NULL
    * when the pooled rate is degenerate (0 or 1 — the ANSI
    * double-divide-by-zero case). ONE user-keyed agg + a 2-row rollup
    * collapsed to a single readout row. */
  def abReadout(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("is_p"))
      .groupBy(col("user_id"))
      .agg((sum(col("is_p")) * 10 >= count(lit(1)) * 3)
        .cast("long").as("converted"))
      .withColumn("arm",
        when(pmod(pmod(col("user_id"), lit(1000000007L)) * lit(2654435761L),
          lit(1000L)) < 500L, "A").otherwise("B"))
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("converted")).cast("long").as("n_conv"))
    val a = arms.filter(col("arm") === "A")
      .select(col("n_users").as("n_a"), col("n_conv").as("conv_a"))
    val b = arms.filter(col("arm") === "B")
      .select(col("n_users").as("n_b"), col("n_conv").as("conv_b"))
    a.crossJoin(b)
      .withColumn("rate_a_milli", expr("conv_a * 1000 DIV n_a"))
      .withColumn("rate_b_milli", expr("conv_b * 1000 DIV n_b"))
      .withColumn("lift_milli", col("rate_b_milli") - col("rate_a_milli"))
      .withColumn("p_pool",
        (col("conv_a") + col("conv_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double"))
      .withColumn("z_score",
        when(col("p_pool") === 0.0 || col("p_pool") === 1.0,
          lit(null).cast("double"))
          .otherwise(
            (col("conv_b").cast("double") / col("n_b").cast("double") -
              col("conv_a").cast("double") / col("n_a").cast("double")) /
              sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
                (lit(1.0) / col("n_a").cast("double") +
                  lit(1.0) / col("n_b").cast("double")))))
      .select(col("n_a"), col("conv_a"), col("rate_a_milli"),
        col("n_b"), col("conv_b"), col("rate_b_milli"),
        col("lift_milli"), col("z_score"))
  }

  val abReadoutSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 10
      |      >= COUNT(*) * 3 AS BIGINT) AS converted,
      |    CASE WHEN ((user_id % 1000000007) * 2654435761) % 1000 < 500
      |      THEN 'A' ELSE 'B' END AS arm
      |  FROM events GROUP BY user_id),
      |arms AS (
      |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST(SUM(converted) AS BIGINT) AS n_conv
      |  FROM u GROUP BY arm),
      |ab AS (
      |  SELECT a.n_users AS n_a, a.n_conv AS conv_a,
      |    b.n_users AS n_b, b.n_conv AS conv_b
      |  FROM (SELECT * FROM arms WHERE arm = 'A') a
      |  CROSS JOIN (SELECT * FROM arms WHERE arm = 'B') b),
      |d AS (
      |  SELECT *,
      |    CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
      |      AS p_pool
      |  FROM ab)
      |SELECT n_a, conv_a, conv_a * 1000 // n_a AS rate_a_milli,
      |  n_b, conv_b, conv_b * 1000 // n_b AS rate_b_milli,
      |  (conv_b * 1000 // n_b) - (conv_a * 1000 // n_a) AS lift_milli,
      |  CASE WHEN p_pool = 0.0 OR p_pool = 1.0 THEN NULL
      |    ELSE (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) -
      |      CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)) /
      |      sqrt(p_pool * (1.0 - p_pool) *
      |        (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
      |    END AS z_score
      |FROM d""".stripMargin

  /** e29: NEAREST-EVENT JOIN — e8's as-of generalized to BOTH
    * directions: for every purchase, the closest view by the same user
    * within ±30 minutes, whichever side it falls on (the sensor-fusion
    * / session-stitching shape: "match each reading to the nearest
    * reference sample", where a backward-only as-of mis-attributes
    * events that arrive just before their cause). Lowered EXACTLY like
    * e8 — tag both sides, ONE hash partition per user, and TWO frames
    * riding the SAME sort: a running max for the latest view at-or-
    * before, a following-frame min for the earliest view after. Ties
    * in |gap| break backward (the causal default). Never-matched
    * purchases keep NULL view/gap with direction 'none'. */
  def nearestEvent(spark: SparkSession, dir: String,
                   horizonUs: Long = 1800000000L): DataFrame = {
    val base = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("kind"))
    val wb = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts)").as("us"),
        when(col("event_type") === "view", 0).otherwise(1).as("kind"))
      .withColumn("b", max(when(col("kind") === 0, col("us"))).over(wb))
      .withColumn("f", min(when(col("kind") === 0, col("us"))).over(wf))
      .filter(col("kind") === 1)
      .withColumn("bgap", col("us") - col("b"))
      .withColumn("fgap", col("f") - col("us"))
      .withColumn("view_us",
        when(col("b").isNotNull && col("bgap") <= horizonUs &&
          (col("f").isNull || col("fgap") > horizonUs ||
            col("bgap") <= col("fgap")), col("b"))
          .when(col("f").isNotNull && col("fgap") <= horizonUs, col("f")))
      .withColumn("gap_us",
        when(col("view_us").isNotNull, col("us") - col("view_us")))
      .withColumn("direction",
        when(col("view_us").isNull, "none")
          .when(col("gap_us") >= 0, "backward")
          .otherwise("forward"))
      .select(col("event_id"), col("user_id"),
        col("us").as("purchase_us"), col("view_us"), col("gap_us"),
        col("direction"))
      .orderBy(col("event_id"))
  }

  def nearestEventSql(horizonUs: Long = 1800000000L): String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS us,
       |    CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS kind
       |  FROM events WHERE event_type IN ('view', 'purchase')),
       |w AS (
       |  SELECT *,
       |    MAX(CASE WHEN kind = 0 THEN us END) OVER (
       |      PARTITION BY user_id ORDER BY us, kind
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b,
       |    MIN(CASE WHEN kind = 0 THEN us END) OVER (
       |      PARTITION BY user_id ORDER BY us, kind
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f
       |  FROM ev),
       |p AS (
       |  SELECT event_id, user_id, us, b, f,
       |    us - b AS bgap, f - us AS fgap
       |  FROM w WHERE kind = 1),
       |chosen AS (
       |  SELECT *,
       |    CASE
       |      WHEN b IS NOT NULL AND bgap <= $horizonUs AND
       |        (f IS NULL OR fgap > $horizonUs OR bgap <= fgap) THEN b
       |      WHEN f IS NOT NULL AND fgap <= $horizonUs THEN f
       |    END AS view_us
       |  FROM p)
       |SELECT event_id, user_id, us AS purchase_us, view_us,
       |  CASE WHEN view_us IS NOT NULL THEN us - view_us END AS gap_us,
       |  CASE WHEN view_us IS NULL THEN 'none'
       |    WHEN us - view_us >= 0 THEN 'backward'
       |    ELSE 'forward' END AS direction
       |FROM chosen ORDER BY event_id""".stripMargin

  /** e28: ABSORPTION PROBABILITY — from e14's Markov matrix, the
    * probability a user starting at each event type reaches `purchase`
    * within 1, 2, and 3 transitions (the funnel question e6 answers
    * for one fixed path, answered over ALL paths). Pure integer milli
    * recursion unrolled: p₀ = 1000·[v = purchase];
    * pᵢ₊₁(v) = 1000 if v = purchase else (Σᵤ c(v,u)·pᵢ(u)) DIV out(v)
    * — one floor division per node per step (sum first, divide once),
    * widest product c·p ≤ 1000·|edge count|, engine-exact. e27's
    * broadcast join-agg kernel with the recursion running FORWARD
    * from each state instead of mass flowing in. Each step is a
    * [[Silver.iterate]] leaf (|types| rows, so each step's agg stays
    * single), and the table is a silver keyed by (target, steps). */
  def absorptionProbability(spark: SparkSession, dir: String,
                            target: String = "purchase",
                            steps: Int = 3): DataFrame =
    Silver.memoize(spark, s"absorption:$target:$steps", dir) {
      val edges = typeEdges(spark, dir)
      // each step's state carries the node's out-degree with its p
      val init = typeNodes(spark, dir)
        .join(broadcast(typeOutDeg(spark, dir)), col("etype") === col("from_type"), "left")
        .select(col("etype"), col("outc"),
          when(col("etype") === target, 1000L).otherwise(0L).as("p_milli"))
      val byStep = Silver.iterate(init, steps) { (p, _) =>
        val contrib = edges
          .join(broadcast(p), col("to_type") === col("etype"))
          .groupBy(col("from_type"))
          .agg(sum(col("c") * col("p_milli")).cast("long").as("mass"))
          .select(col("from_type").as("c_type"), col("mass"))
        p.select(col("etype"), col("outc"))
          .join(broadcast(contrib), col("etype") === col("c_type"), "left")
          .select(col("etype"), col("outc"),
            when(col("etype") === target, 1000L)
              .otherwise(coalesce(
                expr("mass DIV outc"), lit(0L))).as("p_milli"))
      }().rounds.tail
      byStep.zipWithIndex
        .map { case (df, i) => df.select(col("etype"),
          col("p_milli").as(s"p${i + 1}_milli")) }
        .reduce((a, b) => a.join(b, "etype"))
    }.orderBy(col("etype"))

  def absorptionProbabilitySql(target: String = "purchase"): String = {
    def step(prev: String, cur: String): String =
      s"""m$cur AS (
         |  SELECT e.from_type,
         |    CAST(SUM(e.c * r.p_milli) AS BIGINT) AS mass
         |  FROM edges e JOIN $prev r ON r.etype = e.to_type
         |  GROUP BY 1),
         |$cur AS (
         |  SELECT nodes.etype,
         |    CASE WHEN nodes.etype = '$target' THEN 1000
         |      ELSE COALESCE(m$cur.mass // outd.outc, 0) END AS p_milli
         |  FROM nodes
         |  LEFT JOIN m$cur ON m$cur.from_type = nodes.etype
         |  LEFT JOIN outd ON outd.from_type = nodes.etype)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT event_type AS from_type,
       |    LEAD(event_type) OVER (PARTITION BY user_id
       |                           ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |edges AS (
       |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |outd AS (
       |  SELECT from_type, CAST(SUM(c) AS BIGINT) AS outc
       |  FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT event_type AS etype FROM events),
       |p0 AS (
       |  SELECT etype,
       |    CASE WHEN etype = '$target' THEN 1000 ELSE 0 END AS p_milli
       |  FROM nodes),
       |${step("p0", "p1")},
       |${step("p1", "p2")},
       |${step("p2", "p3")}
       |SELECT nodes.etype,
       |  CAST(p1.p_milli AS BIGINT) AS p1_milli,
       |  CAST(p2.p_milli AS BIGINT) AS p2_milli,
       |  CAST(p3.p_milli AS BIGINT) AS p3_milli
       |FROM nodes
       |JOIN p1 ON p1.etype = nodes.etype
       |JOIN p2 ON p2.etype = nodes.etype
       |JOIN p3 ON p3.etype = nodes.etype
       |ORDER BY nodes.etype""".stripMargin
  }

  /** e32: REMOVAL-EFFECT attribution — the Markov-attribution question
    * e28 stops short of: how much CONVERSION does each event type
    * actually carry? Standard removal-effect convention: "remove"
    * channel r = journeys that reach r die there (its absorption
    * probability is pinned to 0 at every step — transitions INTO r
    * are paid, conversions THROUGH r never happen); the chain's edges
    * and out-degrees stay the original observed counts. Base and
    * removed conversion rates are e28's integer-milli recursion
    * evaluated from the EMPIRICAL start distribution (each user's
    * first event), so effect_milli = base − removed is the
    * conversion mass the channel carries within `steps` transitions.
    *
    * The removal dimension is NOT a driver loop: p is one relation
    * keyed (removed, etype) — |types|² rows, broadcast-sized at any
    * corpus scale because the state space is the TYPE graph (e27's
    * argument) — so all removals advance in the SAME per-step
    * aggregate, each step a [[Silver.iterate]] leaf; the report is a
    * silver keyed by (target, steps). The only data-sized moves are the
    * memoized edge silver's build and the one user-keyed first-event
    * aggregate. */
  def removalEffect(spark: SparkSession, dir: String,
                    target: String = "purchase",
                    steps: Int = 3): DataFrame =
    Silver.memoize(spark, s"removalEffect:$target:$steps", dir) {
      val none = "(none)"
      val edges = typeEdges(spark, dir)
      val outDeg = typeOutDeg(spark, dir)
      val nodes = typeNodes(spark, dir)
      val rems = Silver.memoize(spark, s"removalStates:$target", dir) {
        nodes.filter(col("etype") =!= target)
          .select(col("etype").as("r"))
          .union(nodes.limit(1).select(lit(none).as("r")))
      }
      def pinned(mass: Column): Column =
        when(col("etype") === col("r"), 0L)
          .when(col("etype") === target, 1000L)
          .otherwise(mass)
      // each step's state carries the node's out-degree with its p
      val init = rems.crossJoin(nodes)
        .join(broadcast(outDeg), col("etype") === col("from_type"), "left")
        .select(col("r"), col("etype"), col("outc"), pinned(lit(0L)).as("p_milli"))
      val p = Silver.iterate(init, steps) { (p, _) =>
        val contrib = edges
          .join(broadcast(p), col("to_type") === col("etype"))
          .groupBy(col("r"), col("from_type"))
          .agg(sum(col("c") * col("p_milli")).cast("long").as("mass"))
          .select(col("r").as("c_r"), col("from_type").as("c_type"),
            col("mass"))
        p.select(col("r"), col("etype"), col("outc"))
          .join(broadcast(contrib),
            col("r") === col("c_r") && col("etype") === col("c_type"), "left")
          .select(col("r"), col("etype"), col("outc"),
            pinned(coalesce(expr("mass DIV outc"), lit(0L))).as("p_milli"))
      }().last
      val firsts = Silver.memoize(spark, "firstEventTypes", dir) {
        Tables.events(spark, dir)
          .groupBy(col("user_id"))
          .agg(min(struct(col("ts"), col("event_id"), col("event_type")))
            .as("f"))
          .select(col("f.event_type").as("s"))
          .groupBy(col("s")).agg(count(lit(1)).as("n_users"))
      }
      val total = firsts.agg(sum(col("n_users")).cast("long").as("n_total"))
      val conv = p.join(broadcast(firsts), col("etype") === col("s"))
        .groupBy(col("r"))
        .agg(sum(col("n_users") * col("p_milli")).cast("long").as("mass"))
        .crossJoin(broadcast(total))
        .select(col("r"), expr("mass DIV n_total").as("conv_milli"))
      val base = conv.filter(col("r") === none)
        .select(col("conv_milli").as("base_milli"))
      conv.filter(col("r") =!= none)
        .crossJoin(broadcast(base))
        .select(col("r").as("removed_type"), col("base_milli"),
          col("conv_milli"),
          (col("base_milli") - col("conv_milli")).as("effect_milli"))
    }.orderBy(col("removed_type"))

  def removalEffectSql(target: String = "purchase"): String = {
    def step(prev: String, cur: String): String =
      s"""m$cur AS (
         |  SELECT p.r, e.from_type,
         |    CAST(SUM(e.c * p.p_milli) AS BIGINT) AS mass
         |  FROM edges e JOIN $prev p ON p.etype = e.to_type
         |  GROUP BY 1, 2),
         |$cur AS (
         |  SELECT rems.r, nodes.etype,
         |    CASE WHEN nodes.etype = rems.r THEN 0
         |      WHEN nodes.etype = '$target' THEN 1000
         |      ELSE COALESCE(m$cur.mass // outd.outc, 0) END AS p_milli
         |  FROM rems CROSS JOIN nodes
         |  LEFT JOIN m$cur
         |    ON m$cur.r = rems.r AND m$cur.from_type = nodes.etype
         |  LEFT JOIN outd ON outd.from_type = nodes.etype)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT event_type AS from_type,
       |    LEAD(event_type) OVER (PARTITION BY user_id
       |                           ORDER BY ts, event_id) AS to_type
       |  FROM events),
       |edges AS (
       |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |outd AS (
       |  SELECT from_type, CAST(SUM(c) AS BIGINT) AS outc
       |  FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT event_type AS etype FROM events),
       |rems AS (
       |  SELECT etype AS r FROM nodes WHERE etype <> '$target'
       |  UNION ALL SELECT '(none)'),
       |p0 AS (
       |  SELECT r, etype,
       |    CASE WHEN etype = r THEN 0
       |      WHEN etype = '$target' THEN 1000 ELSE 0 END AS p_milli
       |  FROM rems CROSS JOIN nodes),
       |${step("p0", "p1")},
       |${step("p1", "p2")},
       |${step("p2", "p3")},
       |fe AS (
       |  SELECT event_type,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |                       ORDER BY ts, event_id) AS rn
       |  FROM events),
       |firsts AS (
       |  SELECT event_type AS s, CAST(COUNT(*) AS BIGINT) AS n_users
       |  FROM fe WHERE rn = 1 GROUP BY 1),
       |conv AS (
       |  SELECT p3.r,
       |    CAST(SUM(n_users * p_milli) AS BIGINT) //
       |      (SELECT CAST(SUM(n_users) AS BIGINT) FROM firsts)
       |      AS conv_milli
       |  FROM p3 JOIN firsts ON p3.etype = firsts.s
       |  GROUP BY p3.r)
       |SELECT r AS removed_type,
       |  (SELECT conv_milli FROM conv WHERE r = '(none)') AS base_milli,
       |  conv_milli,
       |  (SELECT conv_milli FROM conv WHERE r = '(none)') - conv_milli
       |    AS effect_milli
       |FROM conv WHERE r <> '(none)'
       |ORDER BY removed_type""".stripMargin
  }

  /** e15: rolling 7-day distinct users per day (the trailing-window
    * active-user series every growth dashboard plots). The scalable
    * EXACT form is contribution-explode: a user active on day d is
    * active in the trailing windows ending d..d+6, so each distinct
    * (user, day) emits ≤ 7 (user, window_day) rows and ONE hash
    * aggregate counts distincts per window day — no per-day re-scan,
    * no window-over-collect_set, no 7-way self-join. The 7× row fan-out
    * happens map-side after the distinct; the shuffle carries (day,
    * user) pairs. Window days past the observed range are clipped by
    * the (broadcast 1-row) bounds — trailing windows only ever END on
    * observed days or the 6 days after; emitting only [lo, hi] matches
    * the dashboard convention. [[Sketches.rollingApprox]] (sk6) is this
    * query's sketch-merge scale path: same output contract, HLL unions
    * instead of exact distinct. */
  def rollingDistinct(spark: SparkSession, dir: String,
                      days: Int = 7): DataFrame = {
    val active = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val bounds = active.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    active
      .withColumn("off", explode(sequence(lit(0), lit(days - 1))))
      .withColumn("window_day", date_add(col("d"), col("off")))
      .crossJoin(broadcast(bounds))
      .filter(col("window_day") >= col("lo") && col("window_day") <= col("hi"))
      .groupBy(col("window_day"))
      .agg(countDistinct(col("user_id")).as("n_active_7d"))
      .select(date_format(col("window_day"), "yyyy-MM-dd").as("window_day"),
        col("n_active_7d"))
      .orderBy("window_day")
  }

  def rollingDistinctSql(days: Int = 7): String =
    s"""WITH active AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
       |bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM active),
       |contrib AS (
       |  SELECT user_id, d + CAST(off AS INTEGER) AS window_day
       |  FROM active CROSS JOIN
       |    (SELECT unnest(range(0, $days)) AS off) o)
       |SELECT strftime(window_day, '%Y-%m-%d') AS window_day,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_7d
       |FROM contrib CROSS JOIN bounds
       |WHERE window_day BETWEEN lo AND hi
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** e16: MAD-robust daily-volume outliers — the median/median-absolute-
    * deviation rule (|x − med| > k·MAD) that survives exactly the spiky
    * days that wreck e10's mean-based baseline (one 10× day drags a
    * trailing mean; it moves a median by one rank). Both medians are
    * EXACT nearest-rank picks (the e11 idiom: row_number + conditional
    * max in one aggregate — never percentile_approx, never an
    * interpolated float), so every column is integer and the whole
    * relation hash-compares. The flag comparison |x − med| > k·MAD is
    * pure integer arithmetic.
    *
    * Scale shape: the daily rollup is e1's map-combinable agg; all four
    * rank/median passes ride event_type partitions of the |types|×|days|
    * rollup — bounded by the calendar, not the stream. At 100 TB the
    * only corpus-sized work is the first rollup. */
  def madOutliers(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val wp = Window.partitionBy(col("event_type"))
    val wByCount = wp.orderBy(col("n_events"), col("event_date"))
    val med = daily
      .withColumn("rn", row_number().over(wByCount))
      .withColumn("n", count(lit(1)).over(wp))
      .groupBy(col("event_type"))
      .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("n_events")))
        .as("med"))
    val dev = daily.join(med, Seq("event_type"))
      .withColumn("abs_dev", abs(col("n_events") - col("med")))
    val wByDev = wp.orderBy(col("abs_dev"), col("event_date"))
    val mad = dev
      .withColumn("rn", row_number().over(wByDev))
      .withColumn("n", count(lit(1)).over(wp))
      .groupBy(col("event_type"))
      .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("abs_dev")))
        .as("mad"))
    dev.join(mad, Seq("event_type"))
      .select(col("event_type"), col("event_date"), col("n_events"),
        col("med"), col("abs_dev"), col("mad"),
        (col("abs_dev") > lit(k.toLong) * col("mad")).as("is_outlier"))
      .orderBy(col("event_type"), col("event_date"))
  }

  /** e17: BURST / BOT-PATTERN DETECTION — per user, run-length
    * statistics over sub-second inter-event gaps: rapid-fire runs are
    * the canonical automation signal a trust-and-safety pipeline gates
    * on before events enter analytics. A "burst pair" is a consecutive
    * event pair < 1 s apart (integer microseconds — the e6/e8
    * comparison domain); maximal runs of burst pairs are collapsed with
    * the rn − rn₂ grouping trick (d19's run-collapse algebra applied to
    * the time dimension), so a run of g consecutive burst pairs is
    * g + 1 rapid events. Flag rule: a run of ≥ 5 burst pairs OR more
    * than half of all gaps sub-second (integer-exact comparison
    * 2·n_burst_pairs > n_gaps). Everything rides ONE user_id exchange —
    * the lag, both run windows, and the final per-user rollup; output
    * is user-dimension-sized. */
  def burstDetection(spark: SparkSession, dir: String,
                     gapUs: Long = 1000000L, runFlag: Int = 5): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(byUser))
      .withColumn("rn", row_number().over(byUser))
      .filter(col("gap_us").isNotNull)
    val bursts = gaps.filter(col("gap_us") < gapUs)
      .withColumn("rn2", row_number().over(byUser))
      .withColumn("grp", col("rn") - col("rn2"))
    val runs = bursts.groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_runs"), max(col("run_len")).as("longest_run"),
        sum(col("run_len")).as("n_burst_pairs"))
    gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), min(col("gap_us")).as("min_gap_us"))
      .join(runs, Seq("user_id"), "left")
      .select(col("user_id"), col("n_gaps"), col("min_gap_us"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"),
        coalesce(col("n_burst_pairs"), lit(0L)).as("n_burst_pairs"),
        (coalesce(col("longest_run"), lit(0L)) >= runFlag.toLong ||
          coalesce(col("n_burst_pairs"), lit(0L)) * 2 > col("n_gaps"))
          .as("is_suspect"))
      .orderBy("user_id")
  }

  def burstDetectionSql(gapUs: Long = 1000000L, runFlag: Int = 5): String =
    s"""WITH gaps AS (
       |  SELECT user_id,
       |    epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us,
       |    ROW_NUMBER() OVER w AS rn
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |g AS (SELECT * FROM gaps WHERE gap_us IS NOT NULL),
       |bursts AS (
       |  SELECT user_id, rn,
       |    rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
       |  FROM g WHERE gap_us < $gapUs),
       |runs AS (
       |  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS run_len
       |  FROM bursts GROUP BY 1, 2),
       |per_user_runs AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
       |    CAST(MAX(run_len) AS BIGINT) AS longest_run,
       |    CAST(SUM(run_len) AS BIGINT) AS n_burst_pairs
       |  FROM runs GROUP BY 1),
       |per_user AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       |    CAST(MIN(gap_us) AS BIGINT) AS min_gap_us
       |  FROM g GROUP BY 1)
       |SELECT p.user_id, p.n_gaps, p.min_gap_us,
       |  COALESCE(r.n_runs, 0) AS n_runs,
       |  COALESCE(r.longest_run, 0) AS longest_run,
       |  COALESCE(r.n_burst_pairs, 0) AS n_burst_pairs,
       |  COALESCE(r.longest_run, 0) >= $runFlag
       |    OR COALESCE(r.n_burst_pairs, 0) * 2 > p.n_gaps AS is_suspect
       |FROM per_user p LEFT JOIN per_user_runs r USING (user_id)
       |ORDER BY p.user_id""".stripMargin

  /** e18: LATENESS AUDIT — the distribution of event-time lateness
    * against the arrival-order high-water mark: THE input to choosing a
    * streaming watermark delay (`withWatermark("ts", ?)`): each
    * histogram bucket answers "how many events would a delay of 2^b µs
    * have dropped". Lateness = running max(event time) over arrival
    * order (event_id — the append-log sequence) minus the event's own
    * time; on-time events (new high-water marks) land in bucket −1,
    * late ones in power-of-two µs buckets (t19's log-bound: output
    * rows stay ≤ ~64 at any stream length). The running max is
    * block-decomposed (see [[latenessAuditOf]]) so no data-sized
    * relation ever crosses a single partition. */
  def latenessAudit(spark: SparkSession, dir: String): DataFrame =
    latenessAuditOf(Tables.events(spark, dir)
      .select(col("event_id"), expr("unix_micros(ts)").as("us")))

  /** [[latenessAudit]] over an explicit (event_id, us) relation — the
    * spec drives this with an out-of-order fixture (the synthetic
    * events table arrives perfectly ordered, putting all mass in the
    * on-time bucket; real logs do not).
    *
    * The running max over the total arrival order is NOT a bare
    * `max().over(Window.orderBy(...))` — that window funnels every
    * event through one partition. A running max is associative, so it
    * block-decomposes exactly: split the id sequence into value-derived
    * blocks (`event_id >> blockBits` — deterministic, no sampling),
    * compute each block's running max in parallel (hash-partitioned
    * window), prefix-max the per-BLOCK maxes (a |blocks|-row window —
    * n >> blockBits rows, the only single-partition stage), broadcast
    * the carry-in back, and take the greater. Bit-identical to the
    * one-window form (LatenessBlockSpec) at any block size. */
  def latenessAuditOf(events: DataFrame, blockBits: Int = 20): DataFrame = {
    val blocked = events.withColumn("blk", shiftright(col("event_id"), blockBits))
    val wLocal = Window.partitionBy(col("blk")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = blocked.groupBy(col("blk")).agg(max(col("us")).as("blk_max"))
      .withColumn("carry_in",
        max(col("blk_max")).over(Window.orderBy(col("blk"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("blk").as("cblk"), col("carry_in"))
    blocked
      .withColumn("run_local", max(col("us")).over(wLocal))
      .join(broadcast(carry), col("blk") === col("cblk"))
      .withColumn("run_max",
        greatest(col("run_local"),
          coalesce(col("carry_in"), lit(Long.MinValue))))
      .withColumn("late_us", col("run_max") - col("us"))
      .withColumn("bucket",
        when(col("late_us") === 0L, lit(-1L))
          .otherwise(floorLog2(col("late_us"))))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"),
        min(col("late_us")).as("min_late_us"),
        max(col("late_us")).as("max_late_us"))
      .orderBy(col("bucket"))
  }

  val latenessAuditSql: String =
    """WITH base AS (
      |  SELECT event_id, epoch_us(ts) AS us FROM events),
      |lat AS (
      |  SELECT
      |    MAX(us) OVER (ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us
      |      AS late_us
      |  FROM base)
      |SELECT
      |  CASE WHEN late_us = 0 THEN CAST(-1 AS BIGINT)
      |       ELSE CAST(length(format('{:b}', late_us)) - 1 AS BIGINT)
      |  END AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(MIN(late_us) AS BIGINT) AS min_late_us,
      |  CAST(MAX(late_us) AS BIGINT) AS max_late_us
      |FROM lat GROUP BY 1 ORDER BY bucket""".stripMargin

  def madOutliersSql(k: Int = 3): String =
    s"""WITH daily AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS event_date, event_type,
       |    COUNT(*) AS n_events
       |  FROM events GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY event_type
       |      ORDER BY n_events, event_date) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM daily),
       |med AS (
       |  SELECT event_type,
       |    MAX(CASE WHEN rn = (n + 1) // 2 THEN n_events END) AS med
       |  FROM ranked GROUP BY 1),
       |dev AS (
       |  SELECT d.event_type, d.event_date, d.n_events, m.med,
       |    ABS(d.n_events - m.med) AS abs_dev
       |  FROM daily d JOIN med m USING (event_type)),
       |ranked2 AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY event_type
       |      ORDER BY abs_dev, event_date) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM dev),
       |mad AS (
       |  SELECT event_type,
       |    MAX(CASE WHEN rn = (n + 1) // 2 THEN abs_dev END) AS mad
       |  FROM ranked2 GROUP BY 1)
       |SELECT d.event_type, d.event_date, d.n_events,
       |  CAST(d.med AS BIGINT) AS med,
       |  CAST(d.abs_dev AS BIGINT) AS abs_dev,
       |  CAST(a.mad AS BIGINT) AS mad,
       |  d.abs_dev > $k * a.mad AS is_outlier
       |FROM dev d JOIN mad a USING (event_type)
       |ORDER BY d.event_type, d.event_date""".stripMargin

  /** e19: DISTRIBUTION-DRIFT MONITOR — per event type, the total-
    * variation distance between the value distribution of the stream's
    * first calendar half and its second half: the "did this feature's
    * distribution move" check every training pipeline runs before
    * trusting a new data window (the PSI/KL monitors in common use need
    * a log — engine libm divergence — so this uses TV distance, which
    * is INTEGER-EXACT: ½·Σ|p−q| over fixed $50 value buckets, in milli
    * floor-division units both engines compute identically; TV also
    * bounds every downstream probability shift, which is the guarantee
    * a drift gate actually wants). The split date derives from the
    * observed [min, max] day range — no wall clock, retry-stable.
    *
    * Shape: one (type, half, bucket) count — the only data-sized
    * exchange — then |types|×2×10-bounded rollups. Integer milli
    * proportions floor per bucket; the flag threshold is in the same
    * units. At scale the bucket counts are the per-window histogram
    * silver a monitoring job materializes incrementally. */
  def driftMonitor(spark: SparkSession, dir: String,
                   thresholdMilli: Long = 50L): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("d"),
        least(lit(9L),
          expr("cast(cast(value AS decimal(18,2)) * 100 AS bigint) div 5000"))
          .as("bucket"))
    val bounds = ev.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val counts = ev.crossJoin(broadcast(bounds))
      .withColumn("half",
        when(datediff(col("d"), col("lo")) * 2 <=
          datediff(col("hi"), col("lo")), "a").otherwise("b"))
      .groupBy(col("event_type"), col("half"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("event_type"), col("half"))
      .agg(sum(col("n")).as("win_n"))
    val props = counts.join(totals, Seq("event_type", "half"))
      .select(col("event_type"), col("bucket"),
        when(col("half") === "a", expr("n * 1000 div win_n"))
          .otherwise(lit(0L)).as("p_a"),
        when(col("half") === "b", expr("n * 1000 div win_n"))
          .otherwise(lit(0L)).as("p_b"),
        when(col("half") === "a", col("n")).otherwise(lit(0L)).as("n_a"),
        when(col("half") === "b", col("n")).otherwise(lit(0L)).as("n_b"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(sum(col("p_a")).as("p_a"), sum(col("p_b")).as("p_b"),
        sum(col("n_a")).as("n_a"), sum(col("n_b")).as("n_b"))
    props.groupBy(col("event_type"))
      .agg(sum(col("n_a")).as("n_first_half"),
        sum(col("n_b")).as("n_second_half"),
        expr("sum(abs(p_a - p_b)) div 2").as("tv_milli"))
      .withColumn("is_drifted", col("tv_milli") >= thresholdMilli)
      .orderBy(col("event_type"))
  }

  /** e31: VOLUME-RATE drift test — the third drift axis next to e19
    * (bucket-shape TV) and e24 (cent-resolution KS), which both
    * normalize counts away: a type whose per-day RATE doubles with an
    * unchanged value distribution passes both, and this catches it.
    * Per event type: counts in the two calendar halves (e19's split
    * rule), rates per active day, and the Poisson-approximation
    * z = (c_b·d_a − c_a·d_b) / (d_a·d_b·√(c_a/d_a² + c_b/d_b²)) —
    * equivalently (r_b − r_a)/√(r_a/d_a + r_b/d_b) — as one
    * fixed-order double chain over exact integer counts/day-spans,
    * NULL when both counts are zero. Two bounded aggregates off one
    * scan + a broadcast 1-row bounds relation. */
  def rateDrift(spark: SparkSession, dir: String,
                zThresholdMilli: Long = 3000L): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("d"))
    val bounds = ev.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
    val halves = ev.crossJoin(broadcast(bounds))
      .withColumn("half",
        when(datediff(col("d"), col("lo")) * 2 <=
          datediff(col("hi"), col("lo")), "a").otherwise("b"))
      .withColumn("days_a",
        expr("CAST(datediff(hi, lo) AS BIGINT) DIV 2 + 1"))
      .withColumn("days_b",
        expr("CAST(datediff(hi, lo) AS BIGINT) + 1") - col("days_a"))
      .groupBy(col("event_type"), col("days_a"), col("days_b"))
      .agg(
        sum(when(col("half") === "a", 1L).otherwise(0L)).cast("long").as("c_a"),
        sum(when(col("half") === "b", 1L).otherwise(0L)).cast("long").as("c_b"))
    halves
      .withColumn("rate_a", col("c_a").cast("double") / col("days_a").cast("double"))
      .withColumn("rate_b", col("c_b").cast("double") / col("days_b").cast("double"))
      .withColumn("z_score",
        when(col("c_a") + col("c_b") === 0L, lit(null).cast("double"))
          .otherwise((col("rate_b") - col("rate_a")) /
            sqrt(col("rate_a") / col("days_a").cast("double") +
              col("rate_b") / col("days_b").cast("double"))))
      .withColumn("is_drifted",
        coalesce(abs(col("z_score")) * 1000 >=
          lit(zThresholdMilli).cast("double"), lit(false)))
      .select(col("event_type"), col("c_a"), col("c_b"),
        col("days_a"), col("days_b"), col("rate_a"), col("rate_b"),
        col("z_score"), col("is_drifted"))
      .orderBy(col("event_type"))
  }

  def rateDriftSql(zThresholdMilli: Long = 3000L): String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d FROM events),
       |b AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM ev),
       |h AS (
       |  SELECT event_type,
       |    CASE WHEN date_diff('day', lo, d) * 2 <= date_diff('day', lo, hi)
       |      THEN 'a' ELSE 'b' END AS half,
       |    CAST(date_diff('day', lo, hi) // 2 + 1 AS BIGINT) AS days_a,
       |    CAST(date_diff('day', lo, hi) + 1
       |      - (date_diff('day', lo, hi) // 2 + 1) AS BIGINT) AS days_b
       |  FROM ev CROSS JOIN b),
       |c AS (
       |  SELECT event_type, days_a, days_b,
       |    CAST(SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
       |    CAST(SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS c_b
       |  FROM h GROUP BY 1, 2, 3),
       |r AS (
       |  SELECT *,
       |    CAST(c_a AS DOUBLE) / CAST(days_a AS DOUBLE) AS rate_a,
       |    CAST(c_b AS DOUBLE) / CAST(days_b AS DOUBLE) AS rate_b
       |  FROM c),
       |z AS (
       |  SELECT *,
       |    CASE WHEN c_a + c_b = 0 THEN NULL
       |      ELSE (rate_b - rate_a) /
       |        sqrt(rate_a / CAST(days_a AS DOUBLE)
       |          + rate_b / CAST(days_b AS DOUBLE)) END AS z_score
       |  FROM r)
       |SELECT event_type, c_a, c_b, days_a, days_b, rate_a, rate_b, z_score,
       |  COALESCE(abs(z_score) * 1000 >= CAST($zThresholdMilli AS DOUBLE), FALSE)
       |    AS is_drifted
       |FROM z ORDER BY event_type""".stripMargin

  /** e20: SESSION-QUALITY DISTRIBUTION per day — e4's sessions rolled to
    * the product-health dashboard row: sessions/users/events per
    * session-start date, bounce share (single-event sessions, milli),
    * and EXACT nearest-rank p50/p90 of session length (events) and
    * session duration (seconds) — a34's positional idiom (value at row
    * ceil(q·n) of the ordered series, a real data point both engines
    * agree on bit-for-bit where interpolating quantile builtins
    * diverge). The per-day rank windows are bounded-group (one
    * calendar day of sessions), the same accepted posture as
    * a34/e11; the session build itself rides e4's ONE user_id
    * exchange. Durations are integer floor-division seconds. */
  def sessionStats(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = Tables.events(spark, dir)
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          expr("unix_micros(ts) div 1000000") - expr("unix_micros(prev_ts) div 1000000") > 1800,
          1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("session_events"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      .select(col("user_id"), col("session_id"), col("session_events"),
        expr("(end_us - start_us) div 1000000").as("duration_sec"),
        date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd").as("d"))
    val byDay = Window.partitionBy(col("d"))
    val evRank = byDay.orderBy(col("session_events"), col("user_id"), col("session_id"))
    val duRank = byDay.orderBy(col("duration_sec"), col("user_id"), col("session_id"))
    sessions
      .withColumn("n", count(lit(1)).over(byDay))
      .withColumn("rn_ev", row_number().over(evRank))
      .withColumn("rn_du", row_number().over(duRank))
      .groupBy(col("d"))
      .agg(
        count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("session_events")).as("n_events"),
        sum(when(col("session_events") === 1, 1L).otherwise(0L)).as("bounces"),
        max(when(col("rn_ev") === expr("(n + 1) div 2"), col("session_events")))
          .as("p50_events"),
        max(when(col("rn_ev") === expr("(9 * n + 9) div 10"), col("session_events")))
          .as("p90_events"),
        max(when(col("rn_du") === expr("(n + 1) div 2"), col("duration_sec")))
          .as("p50_duration_sec"),
        max(when(col("rn_du") === expr("(9 * n + 9) div 10"), col("duration_sec")))
          .as("p90_duration_sec"),
        max(col("session_events")).as("max_events"))
      .select(col("d"), col("n_sessions"), col("n_users"), col("n_events"),
        expr("bounces * 1000 div n_sessions").as("bounce_milli"),
        col("p50_events"), col("p90_events"),
        col("p50_duration_sec"), col("p90_duration_sec"), col("max_events"))
      .orderBy(col("d"))
  }

  val sessionStatsSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 > 1800
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessioned AS (
      |  SELECT user_id, us,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged),
      |per_session AS (
      |  SELECT user_id, session_id,
      |    CAST(COUNT(*) AS BIGINT) AS session_events,
      |    (MAX(us) - MIN(us)) // 1000000 AS duration_sec,
      |    strftime(make_timestamp(MIN(us)), '%Y-%m-%d') AS d
      |  FROM sessioned GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *,
      |    CAST(COUNT(*) OVER (PARTITION BY d) AS BIGINT) AS n,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY d
      |      ORDER BY session_events, user_id, session_id) AS BIGINT) AS rn_ev,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY d
      |      ORDER BY duration_sec, user_id, session_id) AS BIGINT) AS rn_du
      |  FROM per_session)
      |SELECT d,
      |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(SUM(session_events) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN session_events = 1 THEN 1 ELSE 0 END) * 1000
      |    // COUNT(*) AS BIGINT) AS bounce_milli,
      |  MAX(CASE WHEN rn_ev = (n + 1) // 2 THEN session_events END) AS p50_events,
      |  MAX(CASE WHEN rn_ev = (9 * n + 9) // 10 THEN session_events END) AS p90_events,
      |  MAX(CASE WHEN rn_du = (n + 1) // 2 THEN duration_sec END) AS p50_duration_sec,
      |  MAX(CASE WHEN rn_du = (9 * n + 9) // 10 THEN duration_sec END) AS p90_duration_sec,
      |  MAX(session_events) AS max_events
      |FROM ranked GROUP BY d ORDER BY d""".stripMargin

  /** e21: POWER-USER CURVE — the engagement histogram every DAU report
    * hides: #users by #distinct active days, each bucket's share of the
    * user base (milli) and the cumulative "at least this engaged" count
    * (running sum from the most-active bucket down). Two map-side-
    * combinable hash aggs — (user, day) distinct then per-user day
    * count — and a histogram rollup; the running sum rides a window
    * over the ≤|calendar days| histogram rows, never the data. The
    * L28-style curve that separates a habit product from a drive-by
    * one. */
  def powerUserCurve(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("active_days"))
    val hist = perUser.groupBy(col("active_days"))
      .agg(count(lit(1)).as("n_users"))
    val total = Window.partitionBy(lit(1))
    val fromTop = Window.partitionBy(lit(1)).orderBy(col("active_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("total_users", sum(col("n_users")).over(total))
      .select(col("active_days"), col("n_users"),
        expr("n_users * 1000 div total_users").as("share_milli"),
        sum(col("n_users")).over(fromTop).as("users_at_least"))
      .orderBy(col("active_days"))
  }

  val powerUserCurveSql: String =
    """WITH per_user AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS active_days
      |  FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
      |  GROUP BY user_id),
      |hist AS (
      |  SELECT active_days, CAST(COUNT(*) AS BIGINT) AS n_users
      |  FROM per_user GROUP BY active_days)
      |SELECT active_days, n_users,
      |  n_users * 1000 // CAST(SUM(n_users) OVER () AS BIGINT) AS share_milli,
      |  CAST(SUM(n_users) OVER (ORDER BY active_days DESC
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS users_at_least
      |FROM hist ORDER BY active_days""".stripMargin

  def driftMonitorSql(thresholdMilli: Long = 50L): String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d,
       |    LEAST(9, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 5000) AS bucket
       |  FROM events),
       |bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM ev),
       |counts AS (
       |  SELECT event_type,
       |    CASE WHEN date_diff('day', b.lo, e.d) * 2
       |      <= date_diff('day', b.lo, b.hi) THEN 'a' ELSE 'b' END AS half,
       |    bucket, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM ev e CROSS JOIN bounds b GROUP BY 1, 2, 3),
       |totals AS (
       |  SELECT event_type, half, CAST(SUM(n) AS BIGINT) AS win_n
       |  FROM counts GROUP BY 1, 2),
       |props AS (
       |  SELECT c.event_type, c.bucket,
       |    CAST(SUM(CASE WHEN c.half = 'a' THEN c.n * 1000 // t.win_n ELSE 0 END) AS BIGINT) AS p_a,
       |    CAST(SUM(CASE WHEN c.half = 'b' THEN c.n * 1000 // t.win_n ELSE 0 END) AS BIGINT) AS p_b,
       |    CAST(SUM(CASE WHEN c.half = 'a' THEN c.n ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN c.half = 'b' THEN c.n ELSE 0 END) AS BIGINT) AS n_b
       |  FROM counts c JOIN totals t USING (event_type, half)
       |  GROUP BY 1, 2)
       |SELECT event_type,
       |  CAST(SUM(n_a) AS BIGINT) AS n_first_half,
       |  CAST(SUM(n_b) AS BIGINT) AS n_second_half,
       |  CAST(SUM(ABS(p_a - p_b)) // 2 AS BIGINT) AS tv_milli,
       |  CAST(SUM(ABS(p_a - p_b)) // 2 AS BIGINT) >= $thresholdMilli AS is_drifted
       |FROM props GROUP BY event_type ORDER BY event_type""".stripMargin

  /** e23: CUSUM CHANGEPOINT SCORE per event type over the daily event
    * count series — the sequential change detector monitoring runs when
    * a level shift matters more than a single-day spike (e17's bursts
    * catch the latter; a sustained +15% volume step never trips a
    * per-day z-test but accumulates linearly here). The textbook
    * recursion S_d = max(0, S_{d-1} + (x_d − μ)) is not a window
    * function, but it has a closed form over prefix sums:
    * with Q_d = Σ_{i≤d}(x_i − μ),  S_d = Q_d − min(0, min_{j≤d} Q_j)
    * (and the downward side mirrored with max) — so the whole detector
    * is ONE daily-count hash agg plus per-type windows over
    * calendar-day-bounded rows. All arithmetic is integer milli
    * (μ in milli-events/day via floor division), exact in both
    * engines. Alarm when either side exceeds `hDays` days' worth of
    * average volume — a relative threshold that needs no variance
    * estimate (and no libm sqrt).
    *
    * 100 TB: the daily-count agg is map-side combinable and the only
    * data-sized exchange; windows ride |types| × |days| rows. The
    * recursion form (not the closed form) is what the streaming twin
    * [[StatefulCusum]] keeps as per-key state — one (S⁺, S⁻, μ) triple
    * per type, bit-identical to this batch relation. */
  def cusumChangepoint(spark: SparkSession, dir: String,
                       hDays: Long = 2L): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("d"))
      .agg(count(lit(1)).as("n_events"))
    val byType = Window.partitionBy(col("event_type"))
    val toHere = byType.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("mu_milli",
        expr("cast(sum(n_events) over (partition by event_type) * 1000" +
          " div count(1) over (partition by event_type) as bigint)"))
      .withColumn("q_milli", sum(col("n_events") * lit(1000L) - col("mu_milli")).over(toHere))
      .withColumn("cusum_pos_milli",
        col("q_milli") - least(lit(0L), min(col("q_milli")).over(toHere)))
      .withColumn("cusum_neg_milli",
        greatest(lit(0L), max(col("q_milli")).over(toHere)) - col("q_milli"))
      .select(col("event_type"), col("d"), col("n_events"), col("mu_milli"),
        col("cusum_pos_milli"), col("cusum_neg_milli"),
        (greatest(col("cusum_pos_milli"), col("cusum_neg_milli")) >
          col("mu_milli") * hDays).as("is_alarm"))
      .orderBy(col("event_type"), col("d"))
  }

  def cusumChangepointSql(hDays: Long = 2L): String =
    s"""WITH daily AS (
       |  SELECT event_type, strftime(ts, '%Y-%m-%d') AS d,
       |    CAST(COUNT(*) AS BIGINT) AS n_events
       |  FROM events GROUP BY 1, 2),
       |mu AS (
       |  SELECT event_type, d, n_events,
       |    CAST(SUM(n_events) OVER (PARTITION BY event_type) * 1000
       |      // COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS mu_milli
       |  FROM daily),
       |pre AS (
       |  SELECT event_type, d, n_events, mu_milli,
       |    CAST(SUM(n_events * 1000 - mu_milli) OVER (
       |      PARTITION BY event_type ORDER BY d
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS q_milli
       |  FROM mu),
       |cus AS (
       |  SELECT event_type, d, n_events, mu_milli,
       |    q_milli - LEAST(0, MIN(q_milli) OVER (
       |      PARTITION BY event_type ORDER BY d
       |      ROWS UNBOUNDED PRECEDING)) AS cusum_pos_milli,
       |    GREATEST(0, MAX(q_milli) OVER (
       |      PARTITION BY event_type ORDER BY d
       |      ROWS UNBOUNDED PRECEDING)) - q_milli AS cusum_neg_milli
       |  FROM pre)
       |SELECT event_type, d, n_events, mu_milli,
       |  cusum_pos_milli, cusum_neg_milli,
       |  GREATEST(cusum_pos_milli, cusum_neg_milli)
       |    > mu_milli * $hDays AS is_alarm
       |FROM cus ORDER BY event_type, d""".stripMargin

  /** e24: TWO-SAMPLE KOLMOGOROV–SMIRNOV DRIFT per event type — the
    * nonparametric companion to e19's bucketed TV distance: e19 sees
    * only mass moved ACROSS its 10 fixed $50 buckets (a shift entirely
    * inside one bucket is invisible); KS compares the full empirical
    * CDFs at exact-cent resolution, catching any location/shape move.
    * D = max_v |F_a(v) − F_b(v)| with both CDFs evaluated as integer
    * milli floor divisions (each term ≤ 1000, so no cross-product
    * overflow at any corpus size); the calendar-half split derives from
    * the observed day range like e19 — retry-stable, no wall clock.
    * `v_at_max` reports WHERE the distributions diverge most (smallest
    * cent value attaining D — deterministic tie rule), which is the
    * actionable part of a drift page.
    *
    * 100 TB: one (type, cent, half) count agg is the only data-sized
    * exchange; CDF windows ride |types| × |distinct cents| rows
    * (bounded by the $0–$500 cent domain, ≤ 50k) — at real scale
    * distinct-value CDFs stay bounded whenever the metric domain is
    * (money in cents); for unbounded domains e19's fixed buckets are
    * the fallback. */
  def ksDrift(spark: SparkSession, dir: String,
              thresholdMilli: Long = 50L): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        expr("cast(cast(value AS decimal(18,2)) * 100 AS bigint)").as("v"))
    val bounds = ev.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val counts = ev.crossJoin(broadcast(bounds))
      .withColumn("half",
        when(datediff(col("day"), col("lo")) * 2 <=
          datediff(col("hi"), col("lo")), "a").otherwise("b"))
      .groupBy(col("event_type"), col("v"))
      .agg(sum(when(col("half") === "a", 1L).otherwise(0L)).as("n_a"),
        sum(when(col("half") === "b", 1L).otherwise(0L)).as("n_b"))
    val byType = Window.partitionBy(col("event_type"))
    val cdf = byType.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val diffs = counts
      .withColumn("tot_a", sum(col("n_a")).over(byType))
      .withColumn("tot_b", sum(col("n_b")).over(byType))
      .withColumn("diff_milli",
        abs(expr("sum(n_a) over (partition by event_type order by v rows unbounded preceding) * 1000 div tot_a") -
          expr("sum(n_b) over (partition by event_type order by v rows unbounded preceding) * 1000 div tot_b")))
    diffs
      .withColumn("ks_milli", max(col("diff_milli")).over(byType))
      .filter(col("diff_milli") === col("ks_milli"))
      .groupBy(col("event_type"))
      .agg(max(col("tot_a")).as("n_first_half"),
        max(col("tot_b")).as("n_second_half"),
        max(col("ks_milli")).as("ks_milli"),
        min(col("v")).as("v_at_max"))
      .withColumn("is_drifted", col("ks_milli") >= thresholdMilli)
      .orderBy(col("event_type"))
  }

  def ksDriftSql(thresholdMilli: Long = 50L): String =
    s"""WITH ev AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
       |  FROM events),
       |bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ev),
       |counts AS (
       |  SELECT event_type, v,
       |    CAST(SUM(CASE WHEN date_diff('day', b.lo, e.day) * 2
       |      <= date_diff('day', b.lo, b.hi) THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(SUM(CASE WHEN date_diff('day', b.lo, e.day) * 2
       |      <= date_diff('day', b.lo, b.hi) THEN 0 ELSE 1 END) AS BIGINT) AS n_b
       |  FROM ev e CROSS JOIN bounds b GROUP BY 1, 2),
       |diffs AS (
       |  SELECT event_type, v,
       |    CAST(SUM(n_a) OVER (PARTITION BY event_type) AS BIGINT) AS tot_a,
       |    CAST(SUM(n_b) OVER (PARTITION BY event_type) AS BIGINT) AS tot_b,
       |    ABS(
       |      CAST(SUM(n_a) OVER (PARTITION BY event_type ORDER BY v
       |        ROWS UNBOUNDED PRECEDING) * 1000 AS BIGINT)
       |        // CAST(SUM(n_a) OVER (PARTITION BY event_type) AS BIGINT)
       |      - CAST(SUM(n_b) OVER (PARTITION BY event_type ORDER BY v
       |        ROWS UNBOUNDED PRECEDING) * 1000 AS BIGINT)
       |        // CAST(SUM(n_b) OVER (PARTITION BY event_type) AS BIGINT)
       |    ) AS diff_milli
       |  FROM counts),
       |mx AS (
       |  SELECT event_type, v, tot_a, tot_b, diff_milli,
       |    MAX(diff_milli) OVER (PARTITION BY event_type) AS ks_milli
       |  FROM diffs)
       |SELECT event_type,
       |  CAST(MAX(tot_a) AS BIGINT) AS n_first_half,
       |  CAST(MAX(tot_b) AS BIGINT) AS n_second_half,
       |  CAST(MAX(ks_milli) AS BIGINT) AS ks_milli,
       |  CAST(MIN(v) AS BIGINT) AS v_at_max,
       |  CAST(MAX(ks_milli) AS BIGINT) >= $thresholdMilli AS is_drifted
       |FROM mx WHERE diff_milli = ks_milli
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** e25: SESSION PATH MINING — the top event-type TRIGRAMS inside
    * e4's 30-minute-gap sessions: the "what do users actually do, in
    * order" table product analytics reads next to the funnel (e6 fixes
    * the stage order a priori; this discovers the dominant orders).
    * Trigram extraction is two LEAD()s inside the (user, session)
    * window — the same bounded-group window e4/e20 already ride — and
    * the path census is one (t1,t2,t3) hash agg over |event-types|³
    * possible keys. share_milli is each path's exact integer share of
    * all observed trigrams; ranks use the full lexical tiebreak so
    * snapshots diff cleanly. At 100 TB: sessionization is the ONE
    * user_id exchange (e4's shape), the census agg is
    * map-side-combinable into a ≤|types|³-row result — the window
    * never leaves the session group. */
  def pathMining(spark: SparkSession, dir: String, topN: Int = 20): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          expr("unix_micros(ts) div 1000000") -
            expr("unix_micros(prev_ts) div 1000000") > 1800, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bySession = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
    val tris = sessions
      .withColumn("t2", lead(col("event_type"), 1).over(bySession))
      .withColumn("t3", lead(col("event_type"), 2).over(bySession))
      .filter(col("t2").isNotNull && col("t3").isNotNull)
      .select(col("event_type").as("t1"), col("t2"), col("t3"))
    val counts = tris.groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n_paths"))
    val total = Window.partitionBy(lit(1))
    val rank = Window.partitionBy(lit(1))
      .orderBy(col("n_paths").desc, col("t1").asc, col("t2").asc, col("t3").asc)
    counts
      .withColumn("total_paths", sum(col("n_paths")).over(total))
      .withColumn("rank", row_number().over(rank).cast("long"))
      .filter(col("rank") <= topN)
      .select(col("rank"), col("t1"), col("t2"), col("t3"), col("n_paths"),
        expr("n_paths * 1000 div total_paths").as("share_milli"))
      .orderBy(col("rank"))
  }

  def pathMiningSql(topN: Int = 20): String =
    s"""WITH flagged AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |      OR epoch_us(ts) // 1000000
       |         - epoch_us(lag(ts) OVER w) // 1000000 > 1800
       |      THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, ts, event_id, event_type,
       |    CAST(SUM(new_session) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |      AS session_id
       |  FROM flagged),
       |tris AS (
       |  SELECT event_type AS t1,
       |    lead(event_type, 1) OVER w2 AS t2,
       |    lead(event_type, 2) OVER w2 AS t3
       |  FROM sess
       |  WINDOW w2 AS (PARTITION BY user_id, session_id
       |    ORDER BY ts, event_id)),
       |counts AS (
       |  SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n_paths
       |  FROM tris WHERE t2 IS NOT NULL AND t3 IS NOT NULL
       |  GROUP BY 1, 2, 3),
       |ranked AS (
       |  SELECT *,
       |    CAST(SUM(n_paths) OVER () AS BIGINT) AS total_paths,
       |    CAST(ROW_NUMBER() OVER (ORDER BY n_paths DESC,
       |      t1 ASC, t2 ASC, t3 ASC) AS BIGINT) AS rank
       |  FROM counts)
       |SELECT rank, t1, t2, t3, n_paths,
       |  n_paths * 1000 // total_paths AS share_milli
       |FROM ranked WHERE rank <= $topN
       |ORDER BY rank""".stripMargin

  /** e33: SCD TYPE-2 INTERVAL BUILD — the slowly-changing-dimension
    * history table every warehouse maintains, built from the raw event
    * stream: per user, CONSECUTIVE runs of the same state
    * (`event_type`) collapse into one versioned row with a
    * `[valid_from, valid_to)` validity interval, `valid_to` NULL on
    * the open (current) version. The reference keeps only the latest
    * state per entity (DynamoDB upsert, write-metrics:77-104); this is
    * the full-history twin of e12's current-state snapshot — the
    * row-level analogue of the reference's overwrite-by-day
    * idempotent re-delivery story (process_upload.py).
    *
    * Shape is the classic gaps-and-islands build: change flag (lag ≠
    * current, ROWS frame), running sum of flags = 1-based version id,
    * one group per island, lead(valid_from) closes each interval.
    *
    * Scale posture: ONE exchange on user_id serves all three steps —
    * the change-flag/version windows sort per-user (bounded by a
    * user's own activity, never corpus size), the island groupBy keys
    * (user_id, version) are satisfied by the same hash partitioning
    * (ClusteredDistribution subset rule: no second shuffle), and the
    * interval-closing lead window runs over the versions relation,
    * already dimension-sized (≤ state changes per user). Nothing
    * global; AQE skew-split applies per stage. */
  def scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    val perEvent = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val runs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("state"))
      .withColumn("chg",
        when(lag(col("state"), 1).over(perEvent).isNull ||
          lag(col("state"), 1).over(perEvent) =!= col("state"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("chg"))
        .over(perEvent.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("version"))
      .agg(min(col("state")).as("state"), // constant within a run
        min(col("ts")).as("from_ts"),
        count(lit(1)).as("n_events"))
    val perVersion = Window.partitionBy(col("user_id")).orderBy(col("version"))
    runs
      .withColumn("valid_to_us",
        lead(expr("unix_micros(from_ts)"), 1).over(perVersion))
      .select(col("user_id"), col("version"), col("state"),
        expr("unix_micros(from_ts)").as("valid_from_us"),
        col("valid_to_us"), col("n_events"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  val scd2IntervalsSql: String =
    """WITH seq AS (
      |  SELECT user_id, ts, event_id, event_type AS state,
      |    CASE WHEN LAG(event_type) OVER w IS NULL
      |      OR LAG(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |runs AS (
      |  SELECT user_id, state, ts,
      |    CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
      |  FROM seq),
      |v AS (
      |  SELECT user_id, version,
      |    MIN(state) AS state, MIN(ts) AS from_ts,
      |    CAST(COUNT(*) AS BIGINT) AS n_events
      |  FROM runs GROUP BY 1, 2),
      |closed AS (
      |  SELECT user_id, version, state,
      |    epoch_us(from_ts) AS valid_from_us,
      |    LEAD(epoch_us(from_ts)) OVER (PARTITION BY user_id
      |      ORDER BY version) AS valid_to_us,
      |    n_events
      |  FROM v)
      |SELECT user_id, version, state, valid_from_us, valid_to_us,
      |  n_events, (valid_to_us IS NULL) AS is_current
      |FROM closed ORDER BY user_id, version""".stripMargin

  /** e34: CDC SNAPSHOT DIFF IN ONE SCAN — the change-data-capture
    * readout between two as-of times: what would a consumer that last
    * synced at T1 have to apply to reach the T2 state? Classified per
    * entity as `insert` (absent at T1), `noop` (identical latest
    * version row), `touch` (new events arrived but the state value is
    * unchanged), `update` (state changed). Deletes are structurally
    * absent in an append-only event lake — stated, not guessed.
    * Reference analog: the incremental re-export decision in
    * export-to-quicksight (re-push only changed partitions).
    *
    * Scale posture: the naive build is two ranked snapshots + a full
    * outer join (three exchanges). Here both as-of snapshots come out
    * of ONE scan and ONE exchange: conditional max-of-struct partials
    * — max(when(ts<T, struct(ts, event_id, state))) for each cutoff —
    * are algebraic, collapse map-side to ≤2 candidate rows per
    * (map partition, user), and the diff classification is a pure
    * projection of the two struct columns. The join is gone; the agg
    * is AQE-skew-splittable. This is e12's latest-version-by-max
    * pattern doubled up, and the reason it exists: time-travel diffs
    * at 100 TB must not pay per-snapshot passes. */
  def stateCdc(spark: SparkSession, dir: String,
               t1: String = "2024-01-15", t2: String = "2024-01-25"): DataFrame = {
    val v = struct(col("ts"), col("event_id"), col("event_type"))
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        max(when(col("ts") < lit(t1).cast("timestamp"), v)).as("a"),
        max(when(col("ts") < lit(t2).cast("timestamp"), v)).as("b"))
      .where(col("b").isNotNull)
      .select(col("user_id"),
        col("a.event_type").as("old_state"),
        col("b.event_type").as("new_state"),
        when(col("a").isNull, lit("insert"))
          .when(col("a.event_id") === col("b.event_id"), lit("noop"))
          .when(col("a.event_type") === col("b.event_type"), lit("touch"))
          .otherwise(lit("update")).as("change"))
      .orderBy(col("user_id"))
  }

  def stateCdcSql(t1: String = "2024-01-15", t2: String = "2024-01-25"): String =
    s"""WITH r1 AS (
       |  SELECT user_id, event_id, event_type,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM events WHERE ts < TIMESTAMP '$t1'),
       |a AS (SELECT user_id, event_id, event_type FROM r1 WHERE rn = 1),
       |r2 AS (
       |  SELECT user_id, event_id, event_type,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM events WHERE ts < TIMESTAMP '$t2'),
       |b AS (SELECT user_id, event_id, event_type FROM r2 WHERE rn = 1)
       |SELECT b.user_id,
       |  a.event_type AS old_state,
       |  b.event_type AS new_state,
       |  CASE WHEN a.user_id IS NULL THEN 'insert'
       |       WHEN a.event_id = b.event_id THEN 'noop'
       |       WHEN a.event_type = b.event_type THEN 'touch'
       |       ELSE 'update' END AS change
       |FROM b LEFT JOIN a ON a.user_id = b.user_id
       |ORDER BY b.user_id""".stripMargin

  /** e35: CUPED VARIANCE-REDUCED A/B READOUT (Deng et al. 2013,
    * "Improving the Sensitivity of Online Controlled Experiments") —
    * e30's experiment readout upgraded with the pre-experiment
    * covariate adjustment every large experimentation platform runs:
    * Y* = Y − θ(X − X̄) where X is the user's PRE-period value and
    * θ = cov(X,Y)/var(X) fitted POOLED across arms (the standard
    * recipe: θ must not differ by arm or the adjustment biases the
    * contrast). Output is one row per arm with the raw and adjusted
    * means and the realized variance reduction.
    *
    * PARITY DISCIPLINE (a30's moment pattern): per-event values
    * quantize to milli (one IEEE multiply + FLOOR — bit-identical in
    * both engines); per-user pre/post sums are exact BIGINTs off ONE
    * conditional-sum scan (the e34 move — no second pass, no join);
    * arm moments n, Σx, Σy are BIGINT and Σx², Σxy, Σy² accumulate as
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — exact, order-free —
    * and only the closing θ/mean/variance chain touches doubles, in
    * one fixed operation order. Degenerate var(X)=0 → θ NULL, adjusted
    * columns NULL; var(Y)=0 → reduction NULL (ANSI-safe).
    *
    * Scale shape: one user-keyed conditional aggregate over the fact
    * scan (map-side combinable), a 2-row arm rollup, a 1-row pooled-θ
    * rollup OF THE ARM MOMENTS (moments are algebraic — pooled =
    * arm-sum, no second user pass), broadcast back over 2 rows.
    * At 100 TB this is exactly one shuffle on user_id. */
  def cupedReadout(spark: SparkSession, dir: String,
                   cutoff: String = "2024-01-10"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val vm = expr("CAST(FLOOR(CAST(value AS DOUBLE) * 1000.0) AS BIGINT)")
    val u = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), vm.as("vm"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("ts") < lit(cutoff).cast("timestamp"), col("vm"))
          .otherwise(0L)).as("xm"),
        sum(when(col("ts") >= lit(cutoff).cast("timestamp"), col("vm"))
          .otherwise(0L)).as("ym"))
      .withColumn("arm",
        when(pmod(pmod(col("user_id"), lit(1000000007L)) * lit(2654435761L),
          lit(1000L)) < 500L, "A").otherwise("B"))
    val d19 = DecimalType(19, 0)
    val arms = u.groupBy(col("arm")).agg(
      count(lit(1)).as("n"),
      sum(col("xm")).as("sx"),
      sum(col("ym")).as("sy"),
      sum(col("xm").cast(d19) * col("xm").cast(d19)).as("sxx"),
      sum(col("xm").cast(d19) * col("ym").cast(d19)).as("sxy"),
      sum(col("ym").cast(d19) * col("ym").cast(d19)).as("syy"))
    val pooled = arms.agg(
      sum(col("n")).as("pn"), sum(col("sx")).as("psx"),
      sum(col("sy")).as("psy"), sum(col("sxx")).as("psxx"),
      sum(col("sxy")).as("psxy"))
      .select(
        (col("psx").cast("double") / lit(1000.0) / col("pn").cast("double"))
          .as("pmean_x"),
        (col("psxx").cast("double") / lit(1e6) / col("pn").cast("double") -
          (col("psx").cast("double") / lit(1000.0) / col("pn").cast("double")) *
          (col("psx").cast("double") / lit(1000.0) / col("pn").cast("double")))
          .as("pvarx"),
        (col("psxy").cast("double") / lit(1e6) / col("pn").cast("double") -
          (col("psx").cast("double") / lit(1000.0) / col("pn").cast("double")) *
          (col("psy").cast("double") / lit(1000.0) / col("pn").cast("double")))
          .as("pcovxy"))
      .select(col("pmean_x"),
        when(col("pvarx") === 0.0, lit(null).cast("double"))
          .otherwise(col("pcovxy") / col("pvarx")).as("theta"))
    val nD = col("n").cast("double")
    arms.crossJoin(broadcast(pooled))
      .withColumn("mean_x", col("sx").cast("double") / lit(1000.0) / nD)
      .withColumn("mean_y", col("sy").cast("double") / lit(1000.0) / nD)
      .withColumn("var_y",
        col("syy").cast("double") / lit(1e6) / nD - col("mean_y") * col("mean_y"))
      .withColumn("varx_a",
        col("sxx").cast("double") / lit(1e6) / nD - col("mean_x") * col("mean_x"))
      .withColumn("covxy_a",
        col("sxy").cast("double") / lit(1e6) / nD - col("mean_x") * col("mean_y"))
      .withColumn("mean_y_cuped",
        when(col("theta").isNull, lit(null).cast("double"))
          .otherwise(col("mean_y") -
            col("theta") * (col("mean_x") - col("pmean_x"))))
      .withColumn("var_y_cuped",
        when(col("theta").isNull, lit(null).cast("double"))
          .otherwise(col("var_y") - lit(2.0) * col("theta") * col("covxy_a") +
            col("theta") * col("theta") * col("varx_a")))
      .withColumn("var_reduction_pct",
        when(col("theta").isNull || col("var_y") === 0.0,
          lit(null).cast("double"))
          .otherwise((lit(1.0) - col("var_y_cuped") / col("var_y")) * 100.0))
      .select(col("arm"), col("n").as("n_users"), col("mean_x"), col("mean_y"),
        col("theta"), col("mean_y_cuped"), col("var_y"), col("var_y_cuped"),
        col("var_reduction_pct"))
      .orderBy(col("arm"))
  }

  def cupedReadoutSql(cutoff: String = "2024-01-10"): String =
    s"""WITH u AS (
       |  SELECT user_id,
       |    CAST(SUM(CASE WHEN ts < TIMESTAMP '$cutoff'
       |      THEN CAST(FLOOR(CAST(value AS DOUBLE) * 1000.0) AS BIGINT)
       |      ELSE 0 END) AS BIGINT) AS xm,
       |    CAST(SUM(CASE WHEN ts >= TIMESTAMP '$cutoff'
       |      THEN CAST(FLOOR(CAST(value AS DOUBLE) * 1000.0) AS BIGINT)
       |      ELSE 0 END) AS BIGINT) AS ym,
       |    CASE WHEN ((user_id % 1000000007) * 2654435761) % 1000 < 500
       |      THEN 'A' ELSE 'B' END AS arm
       |  FROM events GROUP BY user_id),
       |arms AS (
       |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(xm) AS BIGINT) AS sx, CAST(SUM(ym) AS BIGINT) AS sy,
       |    SUM(CAST(xm AS HUGEINT) * xm) AS sxx,
       |    SUM(CAST(xm AS HUGEINT) * ym) AS sxy,
       |    SUM(CAST(ym AS HUGEINT) * ym) AS syy
       |  FROM u GROUP BY arm),
       |pooled AS (
       |  SELECT pmean_x,
       |    CASE WHEN pvarx = 0.0 THEN NULL ELSE pcovxy / pvarx END AS theta
       |  FROM (
       |    SELECT
       |      CAST(psx AS DOUBLE) / 1000.0 / CAST(pn AS DOUBLE) AS pmean_x,
       |      CAST(psxx AS DOUBLE) / 1e6 / CAST(pn AS DOUBLE) -
       |        (CAST(psx AS DOUBLE) / 1000.0 / CAST(pn AS DOUBLE)) *
       |        (CAST(psx AS DOUBLE) / 1000.0 / CAST(pn AS DOUBLE)) AS pvarx,
       |      CAST(psxy AS DOUBLE) / 1e6 / CAST(pn AS DOUBLE) -
       |        (CAST(psx AS DOUBLE) / 1000.0 / CAST(pn AS DOUBLE)) *
       |        (CAST(psy AS DOUBLE) / 1000.0 / CAST(pn AS DOUBLE)) AS pcovxy
       |    FROM (
       |      SELECT CAST(SUM(n) AS BIGINT) AS pn,
       |        CAST(SUM(sx) AS BIGINT) AS psx, CAST(SUM(sy) AS BIGINT) AS psy,
       |        SUM(sxx) AS psxx, SUM(sxy) AS psxy
       |      FROM arms))),
       |closed AS (
       |  SELECT arm, n, pmean_x, theta,
       |    CAST(sx AS DOUBLE) / 1000.0 / CAST(n AS DOUBLE) AS mean_x,
       |    CAST(sy AS DOUBLE) / 1000.0 / CAST(n AS DOUBLE) AS mean_y,
       |    CAST(syy AS DOUBLE) / 1e6 / CAST(n AS DOUBLE) -
       |      (CAST(sy AS DOUBLE) / 1000.0 / CAST(n AS DOUBLE)) *
       |      (CAST(sy AS DOUBLE) / 1000.0 / CAST(n AS DOUBLE)) AS var_y,
       |    CAST(sxx AS DOUBLE) / 1e6 / CAST(n AS DOUBLE) -
       |      (CAST(sx AS DOUBLE) / 1000.0 / CAST(n AS DOUBLE)) *
       |      (CAST(sx AS DOUBLE) / 1000.0 / CAST(n AS DOUBLE)) AS varx_a,
       |    CAST(sxy AS DOUBLE) / 1e6 / CAST(n AS DOUBLE) -
       |      (CAST(sx AS DOUBLE) / 1000.0 / CAST(n AS DOUBLE)) *
       |      (CAST(sy AS DOUBLE) / 1000.0 / CAST(n AS DOUBLE)) AS covxy_a
       |  FROM arms CROSS JOIN pooled)
       |SELECT arm, n AS n_users, mean_x, mean_y, theta,
       |  CASE WHEN theta IS NULL THEN NULL
       |    ELSE mean_y - theta * (mean_x - pmean_x) END AS mean_y_cuped,
       |  var_y,
       |  CASE WHEN theta IS NULL THEN NULL
       |    ELSE var_y - 2.0 * theta * covxy_a + theta * theta * varx_a
       |    END AS var_y_cuped,
       |  CASE WHEN theta IS NULL OR var_y = 0.0 THEN NULL
       |    ELSE (1.0 - (var_y - 2.0 * theta * covxy_a
       |      + theta * theta * varx_a) / var_y) * 100.0
       |    END AS var_reduction_pct
       |FROM closed ORDER BY arm""".stripMargin

  /** Day cap for the e36 hazard grid: durations past this land in the
    * final bucket (at-risk counts are unaffected for t <= cap, since a
    * capped duration >= t iff the raw one is). */
  private val HazardCapDays = 30

  /** e36: INACTIVITY HAZARD TABLE — discrete-time survival analysis of
    * the gap between a user's consecutive ACTIVE DAYS, the life-table
    * half of Kaplan–Meier (Cutler–Ederer): the readout behind every
    * churn model's "how long until they come back, and when do we stop
    * expecting them". Observations: each consecutive active-day pair is
    * a COMPLETE duration (the return happened); each user's last active
    * day is RIGHT-CENSORED at the corpus horizon (max event date) — the
    * piece naive gap histograms (e15/a40 class) get wrong by treating
    * silence as churn. Per day t: n_at_risk (obs with duration >= t),
    * n_events (returns at exactly t), n_censored (horizons at t), and
    * the discrete hazard n_events·1000 DIV n_at_risk. The survival
    * curve is the running product of (1 − hazard) — left to the reader
    * deliberately: a cumulative product is sequential rounding, the
    * hazard table is the exact, engine-portable artifact.
    *
    * Exactness: durations are calendar-day diffs (exact integers both
    * engines); counts and the hazard are pure integer arithmetic.
    *
    * Scale shape: ONE user-keyed exchange for the distinct-day lead
    * window; the horizon is a 1-row broadcast; the duration histogram
    * is a <=31-group map-side-combinable agg, and the at-risk reverse
    * cumsum runs over the 31-row grid — grid-bounded, never row-sized. */
  def hazardTable(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val horizon = days.agg(max(col("d")).as("horizon"))
    val wUser = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val obs = days
      .withColumn("next_d", lead(col("d"), 1).over(wUser))
      .crossJoin(broadcast(horizon))
      .select(
        when(col("next_d").isNotNull,
          datediff(col("next_d"), col("d")))
          .otherwise(datediff(col("horizon"), col("d")))
          .cast("long").as("dur"),
        col("next_d").isNotNull.cast("long").as("is_event"))
      .select(least(col("dur"), lit(HazardCapDays.toLong)).as("t_days"),
        col("is_event"))
    val hist = obs.groupBy(col("t_days"))
      .agg(sum(col("is_event")).cast("long").as("n_events"),
        sum(lit(1L) - col("is_event")).cast("long").as("n_censored"))
    val grid = spark.range(0, HazardCapDays + 1)
      .select(col("id").as("t_days"))
      .join(hist, Seq("t_days"), "left")
      .select(col("t_days"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("n_censored"), lit(0L)).as("n_censored"))
    val wRev = Window.orderBy(col("t_days"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    grid
      .withColumn("n_at_risk",
        sum(col("n_events") + col("n_censored")).over(wRev).cast("long"))
      .filter(col("n_at_risk") > 0)
      .select(col("t_days"), col("n_at_risk"), col("n_events"),
        col("n_censored"),
        expr("n_events * 1000 DIV n_at_risk").as("hazard_milli"))
      .orderBy(col("t_days"))
  }

  def hazardTableSql(): String =
    s"""WITH days AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
       |horizon AS (SELECT MAX(d) AS horizon FROM days),
       |obs AS (
       |  SELECT LEAST(CASE WHEN next_d IS NOT NULL
       |      THEN date_diff('day', d, next_d)
       |      ELSE date_diff('day', d, horizon) END,
       |      $HazardCapDays) AS t_days,
       |    CASE WHEN next_d IS NOT NULL THEN 1 ELSE 0 END AS is_event
       |  FROM (
       |    SELECT user_id, d,
       |      LEAD(d, 1) OVER (PARTITION BY user_id ORDER BY d) AS next_d
       |    FROM days) x CROSS JOIN horizon),
       |hist AS (
       |  SELECT t_days, CAST(SUM(is_event) AS BIGINT) AS n_events,
       |    CAST(SUM(1 - is_event) AS BIGINT) AS n_censored
       |  FROM obs GROUP BY t_days),
       |grid AS (
       |  SELECT CAST(g.t_days AS BIGINT) AS t_days,
       |    COALESCE(h.n_events, 0) AS n_events,
       |    COALESCE(h.n_censored, 0) AS n_censored
       |  FROM (SELECT UNNEST(range(0, ${HazardCapDays + 1})) AS t_days) g
       |  LEFT JOIN hist h ON h.t_days = g.t_days),
       |risk AS (
       |  SELECT t_days, n_events, n_censored,
       |    CAST(SUM(n_events + n_censored) OVER (ORDER BY t_days
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
       |      AS n_at_risk
       |  FROM grid)
       |SELECT t_days, n_at_risk, n_events, n_censored,
       |  n_events * 1000 // n_at_risk AS hazard_milli
       |FROM risk WHERE n_at_risk > 0
       |ORDER BY t_days""".stripMargin
}
