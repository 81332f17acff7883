package graft.analytics

import graft.etl.{Defaults, StoreDaily, ProductDaily}
import graft.model.Silver
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** A10–A12, A15–A16 + the deterministic anomaly rubric: 7-day-history
  * analytics (reference: backend/functions/detect-anomalies/
  * lambda_function.py:30,65-135,214-219 and analyze-trends/
  * lambda_function.py:65-152,200-280).
  *
  * Scale posture:
  *  - A10 is a RANGE window over a day index on the (store,day) summary —
  *    one shuffle on store_id, no self-join.
  *  - A12's "history rows serving a target day" relation is rewritten from
  *    a range join (quadratic per join key) into a bounded
  *    explode(sequence(day+1, day+7)) + pure equi-join: 7× linear
  *    expansion, hash-partitionable, survives 100× scale-up. The DuckDB
  *    oracle uses the equivalent BETWEEN range join (its IEJoin is fine at
  *    oracle scale).
  */
object History {

  private def dayIdx(c: Column): Column = unix_date(to_date(c))

  /** (store, day) summary + day index, the base for all history queries. */
  private def sd(spark: SparkSession, dir: String): DataFrame =
    StoreDaily.rollupDec(spark, dir)
      .withColumn("day_idx", dayIdx(col("sale_date")))

  private val sdSql: String =
    s"""SELECT *, date_diff('day', DATE '1970-01-01', CAST(sale_date AS DATE)) AS day_idx
       |FROM (${StoreDaily.rollupDecSql})""".stripMargin

  /** A10: per (store, day): trailing 7-calendar-day history average
    * (excluding today — detect-anomalies:30,65-104). */
  def storeHistory(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("store_id")).orderBy(col("day_idx"))
      .rangeBetween(-7, -1)
    sd(spark, dir)
      .withColumn("hist_sales_dec", sum(col("gross_dec")).over(w))
      .withColumn("hist_txn", sum(col("transaction_count")).over(w))
      .withColumn("hist_days", count(lit(1)).over(w))
      .select(
        col("store_id"), col("sale_date"),
        col("gross_dec").cast("double").as("today_sales"),
        col("hist_days"),
        when(col("hist_days") > 0,
          col("hist_sales_dec").cast("double") / col("hist_days")).as("hist_avg_sales"),
        when(col("hist_days") > 0,
          col("hist_txn").cast("double") / col("hist_days")).as("hist_avg_transactions"))
      .orderBy(col("store_id"), col("sale_date"))
  }

  /** Unordered body, composed into downstream CTEs; the public SQL appends
    * its ORDER BY separately (no post-hoc string surgery on embedded
    * clauses — ADVICE r1). */
  private val storeHistoryBodySql: String =
    s"""WITH sd AS ($sdSql),
       |win AS (
       |  SELECT store_id, sale_date, gross_dec,
       |    SUM(gross_dec) OVER w AS hist_sales_dec,
       |    SUM(transaction_count) OVER w AS hist_txn,
       |    COUNT(*) OVER w AS hist_days
       |  FROM sd
       |  WINDOW w AS (PARTITION BY store_id ORDER BY day_idx
       |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING))
       |SELECT store_id, sale_date,
       |  CAST(gross_dec AS DOUBLE) AS today_sales,
       |  hist_days,
       |  CASE WHEN hist_days > 0 THEN CAST(hist_sales_dec AS DOUBLE) / hist_days END AS hist_avg_sales,
       |  CASE WHEN hist_days > 0 THEN CAST(hist_txn AS DOUBLE) / hist_days END AS hist_avg_transactions
       |FROM win""".stripMargin

  val storeHistorySql: String =
    s"$storeHistoryBodySql\nORDER BY store_id, sale_date"

  /** A11 + the deterministic anomaly rubric (the prompt's own thresholds as
    * code — detect-anomalies:268-271: |deviation| > 50% → critical,
    * 25–50% → warning, else info; requires ≥3 days of history,
    * detect-anomalies:339-362). J1 (today-vs-history join) is the window
    * itself. Deviation emitted as a raw IEEE quotient (Tables doc). */
  def anomalies(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "anomalies", dir) { anomaliesBuild(spark, dir) }

  private def anomaliesBuild(spark: SparkSession, dir: String): DataFrame =
    storeHistory(spark, dir)
      .filter(col("hist_days") >= 3 && col("hist_avg_sales") > 0)
      .withColumn("deviation_pct",
        (col("today_sales") - col("hist_avg_sales")) / col("hist_avg_sales") * 100)
      .withColumn("severity",
        when(abs(col("deviation_pct")) > 50, "critical")
          .when(abs(col("deviation_pct")) > 25, "warning")
          .otherwise("info"))
      .select(col("store_id"), col("sale_date"), col("today_sales"),
        col("hist_avg_sales"), col("deviation_pct"), col("severity"))
      .orderBy(col("store_id"), col("sale_date"))

  private[graft] val anomaliesBodySql: String =
    s"""WITH h AS ($storeHistoryBodySql)
       |SELECT store_id, sale_date, today_sales, hist_avg_sales,
       |  (today_sales - hist_avg_sales) / hist_avg_sales * 100 AS deviation_pct,
       |  CASE
       |    WHEN ABS((today_sales - hist_avg_sales) / hist_avg_sales * 100) > 50 THEN 'critical'
       |    WHEN ABS((today_sales - hist_avg_sales) / hist_avg_sales * 100) > 25 THEN 'warning'
       |    ELSE 'info' END AS severity
       |FROM h
       |WHERE hist_days >= 3 AND hist_avg_sales > 0""".stripMargin

  val anomaliesSql: String =
    s"$anomaliesBodySql\nORDER BY store_id, sale_date"

  /** A22 + O8: insight counts by severity, in the reference's custom
    * priority order critical < warning < info
    * (generate-recommendations:210-211 uses the same rank-by-when shape). */
  def insightCounts(spark: SparkSession, dir: String): DataFrame =
    anomalies(spark, dir)
      .groupBy(col("severity"))
      .agg(count(lit(1)).as("n"))
      .withColumn("priority_rank",
        when(col("severity") === "critical", 0)
          .when(col("severity") === "warning", 1)
          .otherwise(2))
      .orderBy(col("priority_rank"))

  val insightCountsSql: String =
    s"""WITH a AS ($anomaliesBodySql)
       |SELECT severity, COUNT(*) AS n,
       |  CASE severity WHEN 'critical' THEN 0 WHEN 'warning' THEN 1 ELSE 2 END AS priority_rank
       |FROM a
       |GROUP BY severity
       |ORDER BY priority_rank""".stripMargin

  /** A12: trend direction per (store, day) — the most recent 2 history
    * days vs the earlier days of the trailing 7-day window
    * (analyze-trends:210-229): increasing if recent > 1.05× earlier,
    * decreasing if < 0.95×, insufficient_data when history < 2 days.
    * At exactly 2 history days the reference keeps BOTH days in the recent
    * set and reuses the older day alone as the earlier set
    * (`historical_values[:1]`, analyze-trends:212-213) — earlier is never
    * empty once hist_days >= 2, so direction can move at n == 2.
    *
    * Implemented scale-first: each history day is exploded to the ≤7
    * target days it can serve → equi-join on (store_id, day_idx).
    *
    * The unordered body is a SILVER (stores×days rows — dimension-sized):
    * a12, the trend-insight rubric (x3), and the recommendations rubric
    * (r2/x4) all re-read this relation; like rollupDec/paymentDec it is
    * a silver-table stand-in, not a per-query recompute. */
  def trendDirection(spark: SparkSession, dir: String): DataFrame =
    trendDirectionBody(spark, dir)
      .orderBy(col("store_id"), col("sale_date"))

  private def trendDirectionBody(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "trendDirectionBody", dir) {
      trendDirectionBodyBuild(spark, dir)
    }

  private def trendDirectionBodyBuild(spark: SparkSession, dir: String): DataFrame = {
    val base = sd(spark, dir)
    val hist = base.select(
        col("store_id").as("h_store"), col("day_idx").as("h_idx"),
        col("gross_dec").as("h_sales"))
      .withColumn("serves_idx",
        explode(sequence(col("h_idx") + 1, col("h_idx") + 7)))
    val today = base.select(col("store_id"), col("sale_date"), col("day_idx"))
    val joined = today.join(hist,
      col("store_id") === col("h_store") && col("day_idx") === col("serves_idx"),
      "left")
    val w = Window.partitionBy(col("store_id"), col("sale_date"))
      .orderBy(col("h_idx").desc)
    joined
      .withColumn("rn", row_number().over(w))
      .groupBy(col("store_id"), col("sale_date"))
      .agg(
        count(col("h_idx")).as("hist_days"),
        sum(when(col("rn") <= 2, col("h_sales"))).as("recent_dec"),
        sum(when(col("rn") === 2, col("h_sales"))).as("rn2_dec"),
        sum(when(col("rn") > 2, col("h_sales"))).as("gt2_dec"),
        sum(when(col("rn") <= 2 && col("h_idx").isNotNull, 1).otherwise(0)).as("recent_n"),
        sum(when(col("rn") > 2, 1).otherwise(0)).as("gt2_n"))
      .withColumn("earlier_dec",
        when(col("hist_days") === 2, col("rn2_dec")).otherwise(col("gt2_dec")))
      .withColumn("earlier_n",
        when(col("hist_days") === 2, lit(1L)).otherwise(col("gt2_n")))
      .withColumn("recent_avg",
        when(col("recent_n") > 0, col("recent_dec").cast("double") / col("recent_n")))
      .withColumn("earlier_avg",
        when(col("earlier_n") > 0, col("earlier_dec").cast("double") / col("earlier_n")))
      .select(
        col("store_id"), col("sale_date"), col("hist_days"),
        col("recent_avg"), col("earlier_avg"),
        when(col("hist_days") < 2, "insufficient_data")
          .when(col("recent_avg") > col("earlier_avg") * 1.05, "increasing")
          .when(col("recent_avg") < col("earlier_avg") * 0.95, "decreasing")
          .otherwise("stable").as("direction"))
  }

  /** Unordered body for downstream CTE composition (Recommendations). */
  private[graft] val trendDirectionBodySql: String =
    s"""WITH sd AS ($sdSql),
       |joined AS (
       |  SELECT t.store_id, t.sale_date, h.day_idx AS h_idx, h.gross_dec AS h_sales
       |  FROM sd t LEFT JOIN sd h
       |    ON h.store_id = t.store_id
       |    AND h.day_idx BETWEEN t.day_idx - 7 AND t.day_idx - 1),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY store_id, sale_date
       |    ORDER BY h_idx DESC) AS rn
       |  FROM joined),
       |agg AS (
       |  SELECT store_id, sale_date,
       |    COUNT(h_idx) AS hist_days,
       |    SUM(CASE WHEN rn <= 2 THEN h_sales END) AS recent_dec,
       |    SUM(CASE WHEN rn = 2 THEN h_sales END) AS rn2_dec,
       |    SUM(CASE WHEN rn > 2 THEN h_sales END) AS gt2_dec,
       |    SUM(CASE WHEN rn <= 2 AND h_idx IS NOT NULL THEN 1 ELSE 0 END) AS recent_n,
       |    SUM(CASE WHEN rn > 2 THEN 1 ELSE 0 END) AS gt2_n
       |  FROM ranked GROUP BY store_id, sale_date),
       |sel AS (
       |  SELECT store_id, sale_date, hist_days,
       |    CASE WHEN recent_n > 0 THEN CAST(recent_dec AS DOUBLE) / recent_n END AS recent_avg,
       |    CASE WHEN (CASE WHEN hist_days = 2 THEN 1 ELSE gt2_n END) > 0 THEN
       |      CAST(CASE WHEN hist_days = 2 THEN rn2_dec ELSE gt2_dec END AS DOUBLE)
       |        / (CASE WHEN hist_days = 2 THEN 1 ELSE gt2_n END) END AS earlier_avg
       |  FROM agg)
       |SELECT store_id, sale_date, hist_days, recent_avg, earlier_avg,
       |  CASE
       |    WHEN hist_days < 2 THEN 'insufficient_data'
       |    WHEN recent_avg > earlier_avg * 1.05 THEN 'increasing'
       |    WHEN recent_avg < earlier_avg * 0.95 THEN 'decreasing'
       |    ELSE 'stable' END AS direction
       |FROM sel""".stripMargin

  val trendDirectionSql: String =
    s"$trendDirectionBodySql\nORDER BY store_id, sale_date"

  /** P3: the optional-equality store filter of the read APIs
    * (get-trends:69-72 — `GSI1SK = STORE#xxxx` only when the store_id
    * param is present). Parameter presence = plan shape, not a WHERE on
    * every row: None compiles to the unfiltered plan. */
  def storeHistoryFiltered(spark: SparkSession, dir: String,
                           storeId: Option[String]): DataFrame =
    storeId.foldLeft(storeHistory(spark, dir))((df, s) => df.filter(col("store_id") === s))

  def storeHistoryFilteredSql(storeId: Option[String]): String =
    storeId match {
      case Some(s) =>
        s"""SELECT * FROM ($storeHistoryBodySql)
           |WHERE store_id = '$s'
           |ORDER BY store_id, sale_date""".stripMargin
      case None => storeHistorySql
    }

  /** A15: company history series — the A4 rollup over the 7 dates
    * preceding the target date (analyze-trends:108-152). */
  def companyHistory(spark: SparkSession, dir: String,
                     date: String = Defaults.targetDate): DataFrame =
    StoreDaily.rollupDec(spark, dir)
      .filter(col("sale_date") >= date_format(date_sub(to_date(lit(date)), 7), "yyyy-MM-dd")
        && col("sale_date") < date)
      .groupBy(col("sale_date"))
      .agg(
        sum(col("gross_dec")).as("sales_dec"),
        sum(col("transaction_count")).as("total_transactions"),
        count(lit(1)).as("store_count"))
      .select(col("sale_date"),
        col("sales_dec").cast("double").as("total_sales"),
        col("total_transactions"), col("store_count"),
        (col("sales_dec").cast("double") / col("total_transactions")).as("avg_transaction"))
      .orderBy(col("sale_date"))

  def companyHistorySql(date: String = Defaults.targetDate): String =
    s"""WITH sd AS (${StoreDaily.rollupDecSql})
       |SELECT sale_date,
       |  CAST(SUM(gross_dec) AS DOUBLE) AS total_sales,
       |  CAST(SUM(transaction_count) AS BIGINT) AS total_transactions,
       |  COUNT(*) AS store_count,
       |  CAST(SUM(gross_dec) AS DOUBLE) / CAST(SUM(transaction_count) AS BIGINT) AS avg_transaction
       |FROM sd
       |WHERE sale_date >= strftime(DATE '$date' - INTERVAL 7 DAY, '%Y-%m-%d')
       |  AND sale_date < '$date'
       |GROUP BY sale_date
       |ORDER BY sale_date""".stripMargin

  /** A16/J2: product 7-day history — today's top-10 (lossy) products vs
    * their trailing-7-day average revenue, with deviation
    * (analyze-trends:156-194,233-280). */
  def productHistory(spark: SparkSession, dir: String,
                     date: String = Defaults.targetDate): DataFrame = {
    val histFrom = java.time.LocalDate.parse(date).minusDays(7).toString
    val pd = StoreDaily.topProductsDecRange(spark, dir, 5, histFrom, date)
      .groupBy(col("sale_date"), col("sku"))
      .agg(sum(col("units")).as("units"), sum(col("rev_dec")).as("rev_dec"))
    val today = pd.filter(col("sale_date") === date)
      .orderBy(col("rev_dec").desc, col("sku").asc).limit(10)
      .select(col("sku"), col("units").as("today_units"),
        col("rev_dec").as("today_rev_dec"))
    val hist = pd
      .filter(col("sale_date") >= date_format(date_sub(to_date(lit(date)), 7), "yyyy-MM-dd")
        && col("sale_date") < date)
      .groupBy(col("sku"))
      .agg(sum(col("rev_dec")).as("hist_rev_dec"), count(lit(1)).as("hist_days"))
    today.join(hist, Seq("sku"), "left")
      .select(
        col("sku"), col("today_units"),
        col("today_rev_dec").cast("double").as("today_revenue"),
        coalesce(col("hist_days"), lit(0L)).as("hist_days"),
        when(col("hist_days") > 0,
          col("hist_rev_dec").cast("double") / col("hist_days")).as("hist_avg_revenue"),
        when(col("hist_days") > 0,
          (col("today_rev_dec").cast("double") - col("hist_rev_dec").cast("double") / col("hist_days"))
            / (col("hist_rev_dec").cast("double") / col("hist_days")) * 100).as("deviation_pct"))
      .orderBy(col("sku"))
  }

  def productHistorySql(date: String = Defaults.targetDate): String =
    s"""WITH top5 AS (${StoreDaily.topProductsDecSql(5)}),
       |pd AS (
       |  SELECT sale_date, sku, CAST(SUM(units) AS BIGINT) AS units, SUM(rev_dec) AS rev_dec
       |  FROM top5 GROUP BY sale_date, sku),
       |today AS (
       |  SELECT sku, units AS today_units, rev_dec AS today_rev_dec
       |  FROM pd WHERE sale_date = '$date'
       |  ORDER BY rev_dec DESC, sku ASC LIMIT 10),
       |hist AS (
       |  SELECT sku, SUM(rev_dec) AS hist_rev_dec, COUNT(*) AS hist_days
       |  FROM pd
       |  WHERE sale_date >= strftime(DATE '$date' - INTERVAL 7 DAY, '%Y-%m-%d')
       |    AND sale_date < '$date'
       |  GROUP BY sku)
       |SELECT t.sku, t.today_units,
       |  CAST(t.today_rev_dec AS DOUBLE) AS today_revenue,
       |  COALESCE(h.hist_days, 0) AS hist_days,
       |  CASE WHEN h.hist_days > 0 THEN CAST(h.hist_rev_dec AS DOUBLE) / h.hist_days END AS hist_avg_revenue,
       |  CASE WHEN h.hist_days > 0 THEN
       |    (CAST(t.today_rev_dec AS DOUBLE) - CAST(h.hist_rev_dec AS DOUBLE) / h.hist_days)
       |      / (CAST(h.hist_rev_dec AS DOUBLE) / h.hist_days) * 100 END AS deviation_pct
       |FROM today t LEFT JOIN hist h ON t.sku = h.sku
       |ORDER BY t.sku""".stripMargin
}
