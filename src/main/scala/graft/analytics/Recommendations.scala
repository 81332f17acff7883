package graft.analytics

import graft.etl.StoreDaily
import graft.model.Silver
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The deterministic scaffolding of the reference's two remaining LLM
  * insight surfaces, encoded as rules the way [[History.anomalies]]
  * encodes the anomaly prompt's thresholds:
  *
  *  - Trend insights (reference: backend/functions/analyze-trends/
  *    lambda_function.py:441-442 — rows of {trend_type, significance,
  *    title, description, affected_items}).
  *  - Recommendations (reference: backend/functions/
  *    generate-recommendations/lambda_function.py:106-147 — the prompt's
  *    own category taxonomy inventory/marketing/operations/strategy and
  *    output schema {priority, category, title, description,
  *    affected_stores, affected_products, expected_impact}; the
  *    priority sort high<medium<low and high-priority count are
  *    deterministic post-processing, :210-226).
  *
  * The LLM free-text stays off the oracle path ([[graft.llm.Insight]]);
  * everything here is derived from the a11 anomaly and a12
  * trend-direction relations plus the lossy product rollup, so both
  * engines compute identical rows (strings are concatenations of
  * constants, integers, and sorted CSV lists — no float formatting).
  *
  * Scale posture: inputs are the (store, day) / (day, sku) summary
  * relations (dimension-sized at any fact scale); outputs are
  * (day × category) rows. Windows partition by sale_date over ≤4 rows.
  */
object Recommendations {

  private def priorityRank(c: Column): Column =
    when(c === "high", 0).when(c === "medium", 1).otherwise(2)

  /** Deterministic trend-insight relation (x3's source): one row per
    * (date, direction) for directions that actually moved, with the
    * affected stores and a share-of-stores significance rubric:
    * ≥50% of reporting stores → high, ≥25% → medium, else low. */
  def trendInsights(spark: SparkSession, dir: String): DataFrame = {
    val td = History.trendDirection(spark, dir)
    val moved = td.filter(col("direction").isin("increasing", "decreasing"))
      .groupBy(col("sale_date"), col("direction"))
      .agg(count(lit(1)).as("n_stores"),
        array_join(array_sort(collect_list(col("store_id"))), ", ")
          .as("affected_items"))
    val totals = td.groupBy(col("sale_date")).agg(count(lit(1)).as("n_reporting"))
    moved.join(totals, Seq("sale_date"))
      .select(
        col("sale_date"),
        concat(lit("sales_"), col("direction")).as("trend_type"),
        when(col("n_stores") * 2 >= col("n_reporting"), "high")
          .when(col("n_stores") * 4 >= col("n_reporting"), "medium")
          .otherwise("low").as("significance"),
        (col("n_stores").cast("double") / col("n_reporting")).as("store_share"),
        concat(lit("Sales "), col("direction"), lit(" at "),
          col("n_stores").cast("string"), lit(" of "),
          col("n_reporting").cast("string"), lit(" stores")).as("title"),
        concat(lit("Daily sales are "), col("direction"),
          lit(" vs the trailing week at: "), col("affected_items")).as("description"),
        col("affected_items"))
      .orderBy(col("sale_date"), col("trend_type"))
  }

  private[graft] val trendInsightsBodySql: String =
    s"""WITH td AS (${History.trendDirectionBodySql}),
       |moved AS (
       |  SELECT sale_date, direction, COUNT(*) AS n_stores,
       |    string_agg(store_id, ', ' ORDER BY store_id) AS affected_items
       |  FROM td WHERE direction IN ('increasing', 'decreasing')
       |  GROUP BY sale_date, direction),
       |totals AS (
       |  SELECT sale_date, COUNT(*) AS n_reporting FROM td GROUP BY sale_date)
       |SELECT m.sale_date,
       |  'sales_' || m.direction AS trend_type,
       |  CASE WHEN m.n_stores * 2 >= t.n_reporting THEN 'high'
       |       WHEN m.n_stores * 4 >= t.n_reporting THEN 'medium'
       |       ELSE 'low' END AS significance,
       |  CAST(m.n_stores AS DOUBLE) / t.n_reporting AS store_share,
       |  'Sales ' || m.direction || ' at ' || CAST(m.n_stores AS VARCHAR) ||
       |    ' of ' || CAST(t.n_reporting AS VARCHAR) || ' stores' AS title,
       |  'Daily sales are ' || m.direction || ' vs the trailing week at: ' ||
       |    m.affected_items AS description,
       |  m.affected_items
       |FROM moved m JOIN totals t USING (sale_date)""".stripMargin
  // (continuation lines above END with `||` — a line-leading `||` would
  // lose a pipe to the OUTER stripMargin when this body is embedded in
  // another margin-stripped SQL string, e.g. Flatten's x3/x4 wrappers)

  /** r2: the deterministic recommendation relation — the reference
    * prompt's four categories realized as rules over the insight inputs,
    * rank-ordered per date by the reference's priority order
    * (generate-recommendations:210-211) with the per-date high-priority
    * count (:225). One row per (date, category) when its trigger fires:
    *
    *  - operations: stores >25% BELOW trailing-7-day average
    *    (the a11 underperformance anomalies); high when any is >50% below.
    *  - marketing: stores >25% ABOVE the average; high when >50% above.
    *  - inventory: the date's top-3 products by (lossy) revenue —
    *    always fires, medium.
    *  - strategy: decreasing-trend stores outnumber increasing AND at
    *    least 3 decline — low (longer-term signal).
    */
  def recommendations(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "recommendations", dir) { recommendationsBuild(spark, dir) }

  private def recommendationsBuild(spark: SparkSession, dir: String): DataFrame = {
    val an = History.anomalies(spark, dir)
    def anomalyRec(cond: Column, extreme: Column, extremeIsHigh: Column,
                   category: String, title: String, descPrefix: String,
                   impact: Column): DataFrame =
      an.filter(cond)
        .groupBy(col("sale_date"))
        .agg(count(lit(1)).as("n"), extreme.as("extreme"),
          array_join(array_sort(collect_list(col("store_id"))), ", ").as("stores_csv"))
        .select(col("sale_date"),
          when(extremeIsHigh, "high").otherwise("medium").as("priority"),
          lit(category).as("category"),
          lit(title).as("title"),
          concat(lit(descPrefix), col("stores_csv")).as("description"),
          col("stores_csv").as("affected_stores"),
          lit("").as("affected_products"),
          impact.as("expected_impact"))

    val ops = anomalyRec(
      col("deviation_pct") < -25,
      min(col("deviation_pct")), col("extreme") < -50,
      "operations", "Support underperforming stores",
      "Stores more than 25% below their trailing-7-day average: ",
      concat(lit("Recover below-trend sales at "),
        col("n").cast("string"), lit(" stores")))
    val mkt = anomalyRec(
      col("deviation_pct") > 25,
      max(col("deviation_pct")), col("extreme") > 50,
      "marketing", "Amplify positive momentum",
      "Stores more than 25% above their trailing-7-day average: ",
      concat(lit("Extend sales spikes at "),
        col("n").cast("string"), lit(" stores")))

    val perDaySku = StoreDaily.topProductsDec(spark, dir, 5)
      .groupBy(col("sale_date"), col("sku"))
      .agg(sum(col("rev_dec")).as("rev_dec"))
    val wTop = Window.partitionBy(col("sale_date"))
      .orderBy(col("rev_dec").desc, col("sku").asc)
    val inv = perDaySku
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 3)
      .groupBy(col("sale_date"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("rk"), col("sku")))),
          s => s.getField("sku").cast("string")), ", ").as("skus_csv"))
      .select(col("sale_date"),
        lit("medium").as("priority"),
        lit("inventory").as("category"),
        lit("Restock top sellers").as("title"),
        concat(lit("Top products by revenue: "), col("skus_csv")).as("description"),
        lit("").as("affected_stores"),
        col("skus_csv").as("affected_products"),
        lit("Protect revenue of the day's top 3 products").as("expected_impact"))

    val strat = History.trendDirection(spark, dir)
      .groupBy(col("sale_date"))
      .agg(
        sum(when(col("direction") === "increasing", 1).otherwise(0)).as("n_inc"),
        sum(when(col("direction") === "decreasing", 1).otherwise(0)).as("n_dec"),
        array_join(array_sort(collect_list(
          when(col("direction") === "decreasing", col("store_id")))), ", ")
          .as("dec_csv"))
      .filter(col("n_dec") > col("n_inc") && col("n_dec") >= 3)
      .select(col("sale_date"),
        lit("low").as("priority"),
        lit("strategy").as("category"),
        lit("Review pricing and assortment strategy").as("title"),
        concat(lit("Declining stores outnumber growing ("),
          col("n_dec").cast("string"), lit(" vs "), col("n_inc").cast("string"),
          lit("): "), col("dec_csv")).as("description"),
        col("dec_csv").as("affected_stores"),
        lit("").as("affected_products"),
        lit("Reverse a multi-store decline").as("expected_impact"))

    val all = ops.unionByName(mkt).unionByName(inv).unionByName(strat)
      .withColumn("priority_rank", priorityRank(col("priority")))
    val wDay = Window.partitionBy(col("sale_date"))
    val wRank = wDay.orderBy(col("priority_rank"), col("category"))
    all
      .withColumn("rec_rank", row_number().over(wRank))
      .withColumn("high_priority_count",
        sum(when(col("priority") === "high", 1).otherwise(0)).over(wDay))
      .select(col("sale_date"), col("rec_rank"), col("priority"),
        col("priority_rank"), col("category"), col("title"), col("description"),
        col("affected_stores"), col("affected_products"), col("expected_impact"),
        col("high_priority_count"))
      .orderBy(col("sale_date"), col("rec_rank"))
  }

  private[graft] val recommendationsBodySql: String =
    s"""WITH an AS (${History.anomaliesBodySql}),
       |td AS (${History.trendDirectionBodySql}),
       |top5 AS (${StoreDaily.topProductsDecSql(5)}),
       |ops AS (
       |  SELECT sale_date,
       |    CASE WHEN MIN(deviation_pct) < -50 THEN 'high' ELSE 'medium' END AS priority,
       |    'operations' AS category,
       |    'Support underperforming stores' AS title,
       |    'Stores more than 25% below their trailing-7-day average: ' ||
       |      string_agg(store_id, ', ' ORDER BY store_id) AS description,
       |    string_agg(store_id, ', ' ORDER BY store_id) AS affected_stores,
       |    '' AS affected_products,
       |    'Recover below-trend sales at ' || CAST(COUNT(*) AS VARCHAR) ||
       |      ' stores' AS expected_impact
       |  FROM an WHERE deviation_pct < -25 GROUP BY sale_date),
       |mkt AS (
       |  SELECT sale_date,
       |    CASE WHEN MAX(deviation_pct) > 50 THEN 'high' ELSE 'medium' END AS priority,
       |    'marketing' AS category,
       |    'Amplify positive momentum' AS title,
       |    'Stores more than 25% above their trailing-7-day average: ' ||
       |      string_agg(store_id, ', ' ORDER BY store_id) AS description,
       |    string_agg(store_id, ', ' ORDER BY store_id) AS affected_stores,
       |    '' AS affected_products,
       |    'Extend sales spikes at ' || CAST(COUNT(*) AS VARCHAR) ||
       |      ' stores' AS expected_impact
       |  FROM an WHERE deviation_pct > 25 GROUP BY sale_date),
       |per_day_sku AS (
       |  SELECT sale_date, sku, SUM(rev_dec) AS rev_dec
       |  FROM top5 GROUP BY sale_date, sku),
       |topk AS (
       |  SELECT * FROM (
       |    SELECT sale_date, sku,
       |      ROW_NUMBER() OVER (PARTITION BY sale_date
       |        ORDER BY rev_dec DESC, sku ASC) AS rk
       |    FROM per_day_sku) WHERE rk <= 3),
       |inv AS (
       |  SELECT sale_date,
       |    'medium' AS priority, 'inventory' AS category,
       |    'Restock top sellers' AS title,
       |    'Top products by revenue: ' ||
       |      string_agg(CAST(sku AS VARCHAR), ', ' ORDER BY rk) AS description,
       |    '' AS affected_stores,
       |    string_agg(CAST(sku AS VARCHAR), ', ' ORDER BY rk) AS affected_products,
       |    'Protect revenue of the day''s top 3 products' AS expected_impact
       |  FROM topk GROUP BY sale_date),
       |strat AS (
       |  SELECT sale_date, 'low' AS priority, 'strategy' AS category,
       |    'Review pricing and assortment strategy' AS title,
       |    'Declining stores outnumber growing (' || CAST(n_dec AS VARCHAR) ||
       |      ' vs ' || CAST(n_inc AS VARCHAR) || '): ' || dec_csv AS description,
       |    dec_csv AS affected_stores, '' AS affected_products,
       |    'Reverse a multi-store decline' AS expected_impact
       |  FROM (
       |    SELECT sale_date,
       |      SUM(CASE WHEN direction = 'increasing' THEN 1 ELSE 0 END) AS n_inc,
       |      SUM(CASE WHEN direction = 'decreasing' THEN 1 ELSE 0 END) AS n_dec,
       |      string_agg(CASE WHEN direction = 'decreasing' THEN store_id END,
       |        ', ' ORDER BY store_id) AS dec_csv
       |    FROM td GROUP BY sale_date)
       |  WHERE n_dec > n_inc AND n_dec >= 3),
       |unioned AS (
       |  SELECT * FROM ops UNION ALL SELECT * FROM mkt
       |  UNION ALL SELECT * FROM inv UNION ALL SELECT * FROM strat),
       |ranked AS (
       |  SELECT *,
       |    CASE priority WHEN 'high' THEN 0 WHEN 'medium' THEN 1 ELSE 2 END
       |      AS priority_rank
       |  FROM unioned)
       |SELECT sale_date,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY sale_date
       |    ORDER BY priority_rank, category) AS INTEGER) AS rec_rank,
       |  priority, priority_rank, category, title, description,
       |  affected_stores, affected_products, expected_impact,
       |  CAST(SUM(CASE WHEN priority = 'high' THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY sale_date) AS BIGINT) AS high_priority_count
       |FROM ranked""".stripMargin

  val recommendationsSql: String =
    s"$recommendationsBodySql\nORDER BY sale_date, rec_rank"
}
