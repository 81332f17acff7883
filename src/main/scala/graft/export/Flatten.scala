package graft.export

import graft.analytics.History
import graft.etl.StoreDaily
import graft.model.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** J6 + S7/S8 shapes + O8/report formatting: the BI-export flatten layer
  * (reference: backend/functions/export-to-quicksight/lambda_function.py:
  * 222-246,205-209; write-metrics:77-98; generate-report:52-175).
  */
object Flatten {

  /** J6: the nested top_products array<struct> column built per (store,
    * day) — the reference's summary shape (calculate-metrics:155-167) —
    * then flattened back to rows with explode (export-to-quicksight:
    * 222-246). Round-trips ArrayType(StructType) through collect_list →
    * array_sort → explode; values = the a3 relation, proving the nested
    * path is lossless. array_sort on the unique rank key makes the
    * collect_list order irrelevant (oracle-deterministic). */
  def explodeTopProducts(spark: SparkSession, dir: String): DataFrame = {
    val nested = StoreDaily.topProductsDec(spark, dir, 5)
      .groupBy(col("store_id"), col("sale_date"))
      .agg(array_sort(collect_list(struct(
        col("rank"), col("sku"), col("units"), col("rev_dec")))).as("top_products"))
    nested
      .select(col("store_id"), col("sale_date"), explode(col("top_products")).as("p"))
      .select(col("store_id"), col("sale_date"),
        col("p.rank").as("rank"), col("p.sku").as("sku"),
        col("p.units").as("units"), col("p.rev_dec").cast("double").as("revenue"))
      .orderBy(col("store_id"), col("sale_date"), col("rank"))
  }

  val explodeTopProductsSql: String =
    s"""WITH top5 AS (${StoreDaily.topProductsDecSql(5)}),
       |nested AS (
       |  SELECT store_id, sale_date,
       |    list(struct_pack(rank := rank, sku := sku, units := units,
       |      rev_dec := rev_dec) ORDER BY rank) AS top_products
       |  FROM top5 GROUP BY store_id, sale_date)
       |SELECT store_id, sale_date,
       |  p.rank AS rank, p.sku AS sku, p.units AS units,
       |  CAST(p.rev_dec AS DOUBLE) AS revenue
       |FROM (SELECT store_id, sale_date, unnest(top_products) AS p FROM nested)
       |ORDER BY store_id, sale_date, rank""".stripMargin

  /** x1: the flattened store-summary export dataset — per (store, day)
    * with the 4-method payment pivot (`mobile` DROPPED, the deliberate
    * reference quirk at export-to-quicksight:205-209) plus the full
    * 5-method breakdown serialized as a sorted `method:amount` CSV (the
    * reference's list→CSV joins, export-to-quicksight:283-285; the
    * relational stand-in for the payment map column — map values don't
    * hash-compare portably, their sorted CSV serialization does). Decimal
    * amounts render identically ("12.50") in both engines. */
  def exportStoreSummariesCsv(spark: SparkSession, dir: String): DataFrame = {
    // the cached payment silver relation IS this export's per-method input
    val perMethod = StoreDaily.paymentDec(spark, dir)
    def pay(m: String) =
      sum(when(col("payment_method") === m, col("amt_dec"))).cast("double").as(s"payment_$m")
    perMethod
      .groupBy(col("store_id"), col("sale_date"))
      .agg(
        sum(col("gross_dec")).cast("double").as("total_sales"),
        sum(col("txn")).as("transaction_count"),
        pay("cash"), pay("credit"), pay("debit"), pay("gift_card"),
        array_join(array_sort(collect_list(
          concat(col("payment_method"), lit(":"), col("amt_dec").cast("string")))), ",")
          .as("payment_csv"))
      .orderBy(col("store_id"), col("sale_date"))
  }

  val exportStoreSummariesCsvSql: String =
    s"""WITH sales AS (${Tables.salesWithPaymentSql}),
       |per_method AS (
       |  SELECT store_id, sale_date, payment_method,
       |    SUM(line_total - discount_amount) AS amt_dec,
       |    SUM(line_total) AS gross_dec,
       |    COUNT(*) AS txn
       |  FROM sales GROUP BY 1, 2, 3)
       |SELECT store_id, sale_date,
       |  CAST(SUM(gross_dec) AS DOUBLE) AS total_sales,
       |  CAST(SUM(txn) AS BIGINT) AS transaction_count,
       |  CAST(SUM(CASE WHEN payment_method = 'cash' THEN amt_dec END) AS DOUBLE) AS payment_cash,
       |  CAST(SUM(CASE WHEN payment_method = 'credit' THEN amt_dec END) AS DOUBLE) AS payment_credit,
       |  CAST(SUM(CASE WHEN payment_method = 'debit' THEN amt_dec END) AS DOUBLE) AS payment_debit,
       |  CAST(SUM(CASE WHEN payment_method = 'gift_card' THEN amt_dec END) AS DOUBLE) AS payment_gift_card,
       |  string_agg(payment_method || ':' || CAST(amt_dec AS VARCHAR), ','
       |    ORDER BY payment_method || ':' || CAST(amt_dec AS VARCHAR)) AS payment_csv
       |FROM per_method
       |GROUP BY store_id, sale_date
       |ORDER BY store_id, sale_date""".stripMargin

  /** k1/S8/P2: DynamoDB-style key construction and its inverse — build the
    * reference's single-table keys (PK=STORE#id, SK=DATE#d, inverted GSI1,
    * write-metrics:77-98), then recover the attributes with the prefix
    * predicates/strips the read paths use (check-all-stores:108-110,
    * get-analytics:96-101). In a relational engine this is just string
    * algebra — the point is byte-identical key semantics. */
  def kvKeys(spark: SparkSession, dir: String): DataFrame =
    StoreDaily.rollupDec(spark, dir)
      .select(
        concat(lit("STORE#"), col("store_id")).as("pk"),
        concat(lit("DATE#"), col("sale_date")).as("sk"),
        concat(lit("DATE#"), col("sale_date")).as("gsi1pk"),
        concat(lit("STORE#"), col("store_id")).as("gsi1sk"),
        col("gross_dec"))
      .filter(col("sk").startsWith("DATE#"))
      .select(col("pk"), col("sk"),
        regexp_replace(col("pk"), "^STORE#", "").as("store_id"),
        regexp_replace(col("sk"), "^DATE#", "").as("sale_date"),
        col("gross_dec").cast("double").as("total_sales"))
      .orderBy(col("pk"), col("sk"))

  val kvKeysSql: String =
    s"""WITH sd AS (${StoreDaily.rollupDecSql}),
       |keyed AS (
       |  SELECT 'STORE#' || store_id AS pk, 'DATE#' || sale_date AS sk, gross_dec
       |  FROM sd)
       |SELECT pk, sk,
       |  regexp_replace(pk, '^STORE#', '') AS store_id,
       |  regexp_replace(sk, '^DATE#', '') AS sale_date,
       |  CAST(gross_dec AS DOUBLE) AS total_sales
       |FROM keyed
       |WHERE starts_with(sk, 'DATE#')
       |ORDER BY pk, sk""".stripMargin

  /** x3: the flattened QuickSight `trends` dataset — exactly
    * create_trends_df's columns (export-to-quicksight/lambda_function.py:
    * 275-299): date, trend_type, significance, title, description, and
    * the affected_items list joined to a CSV string (:283-285). Source is
    * the deterministic trend-insight relation (the LLM seam's rubric
    * twin, [[graft.analytics.Recommendations.trendInsights]]). */
  def exportTrendsCsv(spark: SparkSession, dir: String): DataFrame =
    graft.analytics.Recommendations.trendInsights(spark, dir)
      .select(col("sale_date").as("date"), col("trend_type"),
        col("significance"), col("title"), col("description"),
        col("affected_items"))
      .orderBy(col("date"), col("trend_type"))

  val exportTrendsCsvSql: String =
    s"""WITH ti AS (${graft.analytics.Recommendations.trendInsightsBodySql})
       |SELECT sale_date AS "date", trend_type, significance, title,
       |  description, affected_items
       |FROM ti
       |ORDER BY "date", trend_type""".stripMargin

  /** x4: the flattened QuickSight `recommendations` dataset — exactly
    * create_recommendations_df's columns (export-to-quicksight:302-327):
    * date, priority, category, title, description, the affected_stores /
    * affected_products lists as CSV strings (:310-315), expected_impact.
    * (date, category) is unique by construction → total order. */
  def exportRecommendationsCsv(spark: SparkSession, dir: String): DataFrame =
    graft.analytics.Recommendations.recommendations(spark, dir)
      .select(col("sale_date").as("date"), col("priority"), col("category"),
        col("title"), col("description"), col("affected_stores"),
        col("affected_products"), col("expected_impact"))
      .orderBy(col("date"), col("category"))

  val exportRecommendationsCsvSql: String =
    s"""WITH recs AS (${graft.analytics.Recommendations.recommendationsBodySql})
       |SELECT sale_date AS "date", priority, category, title, description,
       |  affected_stores, affected_products, expected_impact
       |FROM recs
       |ORDER BY "date", category""".stripMargin

  /** r1/O8: report lines — severity icon lookup, initcap labels, custom
    * priority order critical < warning < info (generate-report:150-167,
    * generate-recommendations:210-211). Deviation is bucketed with integer
    * floor (float *formatting* is engine-divergent; integer buckets are
    * exact — Tables doc). */
  def reportLines(spark: SparkSession, dir: String): DataFrame = {
    val icon = when(col("severity") === "critical", "[CRIT]")
      .when(col("severity") === "warning", "[WARN]")
      .otherwise("[INFO]")
    val rank = when(col("severity") === "critical", 0)
      .when(col("severity") === "warning", 1).otherwise(2)
    History.anomalies(spark, dir)
      .withColumn("priority_rank", rank)
      .withColumn("dev_bucket", floor(abs(col("deviation_pct"))).cast("long"))
      .withColumn("line", concat(
        icon, lit(" "), initcap(col("severity")), lit(": store "), col("store_id"),
        lit(" on "), col("sale_date"), lit(" deviated ~"), col("dev_bucket"), lit("%")))
      .select(col("priority_rank"), col("store_id"), col("sale_date"), col("line"))
      .orderBy(col("priority_rank"), col("store_id"), col("sale_date"))
  }

  val reportLinesSql: String = {
    val body = History.anomaliesBodySql
    s"""WITH a AS ($body)
       |SELECT
       |  CASE severity WHEN 'critical' THEN 0 WHEN 'warning' THEN 1 ELSE 2 END AS priority_rank,
       |  store_id, sale_date,
       |  (CASE severity WHEN 'critical' THEN '[CRIT]' WHEN 'warning' THEN '[WARN]'
       |    ELSE '[INFO]' END)
       |  || ' ' || upper(substr(severity, 1, 1)) || substr(severity, 2)
       |  || ': store ' || store_id || ' on ' || sale_date
       |  || ' deviated ~' || CAST(CAST(floor(abs(deviation_pct)) AS BIGINT) AS VARCHAR) || '%' AS line
       |FROM a
       |ORDER BY priority_rank, store_id, sale_date""".stripMargin
  }

  /** x6: the ANOMALIES BI export — the fifth QuickSight dataset
    * (export-to-quicksight/lambda_function.py:250-271): the flattened
    * per-anomaly shape `date, store_id, severity, title, description,
    * metric_value, deviation_percent`, date kept a YYYY-MM-DD string for
    * QuickSight date filtering (same convention as x1/x3/x4). Title and
    * description are the deterministic severity-rubric text (r1's
    * formatting family) standing in for the reference's LLM-drafted
    * fields — the flattened columns and numeric passthroughs are the
    * dataset contract. Dimension-sized (|stores|x|days| bound), built
    * from the memoized a11 silver: zero extra corpus passes. */
  def exportAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val devBucket = floor(abs(col("deviation_pct"))).cast("long")
    History.anomalies(spark, dir)
      .withColumn("title", concat(
        initcap(col("severity")), lit(": store "), col("store_id"),
        lit(" sales deviation")))
      .withColumn("description", concat(
        lit("Store "), col("store_id"), lit(" sales on "), col("sale_date"),
        lit(" deviated ~"), devBucket,
        lit("% from its trailing 7-day average")))
      .select(col("sale_date").as("date"), col("store_id"), col("severity"),
        col("title"), col("description"),
        col("today_sales").as("metric_value"),
        col("deviation_pct").as("deviation_percent"))
      .orderBy(col("date"), col("store_id"))
  }

  val exportAnomaliesSql: String =
    s"""WITH a AS (${History.anomaliesBodySql})
       |SELECT sale_date AS date, store_id, severity,
       |  upper(substr(severity, 1, 1)) || substr(severity, 2)
       |    || ': store ' || store_id || ' sales deviation' AS title,
       |  'Store ' || store_id || ' sales on ' || sale_date || ' deviated ~'
       |    || CAST(CAST(floor(abs(deviation_pct)) AS BIGINT) AS VARCHAR)
       |    || '% from its trailing 7-day average' AS description,
       |  today_sales AS metric_value,
       |  deviation_pct AS deviation_percent
       |FROM a
       |ORDER BY date, store_id""".stripMargin

  /** x5: the CORPUS CURATION REPORT — the BI dataset a data-curation
    * team reviews per ingest batch: one row per document carrying its
    * language verdict (t3), quality score (t2), LM surprisal (t13), and
    * dedup verdict (d16). Each input is an already-green oracle relation;
    * the report is three equi-joins on doc_id (co-partitioned single
    * key — at scale these are the same silver lake partitioning, and the
    * narrow sides broadcast). This is the corpus-pillar sibling of the
    * x1/x3/x4 sales exports, shipped the same way (NDJSON + manifest via
    * [[graft.ingest.Ingest.exportNdjson]]). */
  def exportCorpusReport(spark: SparkSession, dir: String): DataFrame = {
    val lang = graft.text.TextAnalysis.langId(spark, dir)
      .select("doc_id", "lang_labeled", "lang_pred")
    val qual = graft.text.TextAnalysis.qualityScore(spark, dir)
      .select("doc_id", "quality_score")
    val lm = graft.text.TextAnalysis.lmSurprisal(spark, dir)
      .select("doc_id", "bits_per_token")
    val ded = graft.dedup.Dedup.dedupVerdict(spark, dir)
      .select("doc_id", "cluster_size", "action")
    lang.join(qual, "doc_id").join(lm, "doc_id").join(ded, "doc_id")
      .orderBy("doc_id")
  }

  val exportCorpusReportSql: String =
    s"""WITH lang AS (
       |  SELECT doc_id, lang_labeled, lang_pred
       |  FROM (${graft.text.TextAnalysis.langIdSql})),
       |qual AS (
       |  SELECT doc_id, quality_score
       |  FROM (${graft.text.TextAnalysis.qualityScoreSql})),
       |lm AS (
       |  SELECT doc_id, bits_per_token
       |  FROM (${graft.text.TextAnalysis.lmSurprisalSql})),
       |ded AS (
       |  SELECT doc_id, cluster_size, action
       |  FROM (${graft.dedup.Dedup.dedupVerdictSql()}))
       |SELECT l.doc_id, l.lang_labeled, l.lang_pred, q.quality_score,
       |  m.bits_per_token, d.cluster_size, d.action
       |FROM lang l
       |JOIN qual q USING (doc_id)
       |JOIN lm m USING (doc_id)
       |JOIN ded d USING (doc_id)
       |ORDER BY l.doc_id""".stripMargin

  /** x8: the per-DOMAIN corpus card — x5's sibling one aggregation level
    * up: one row per (lang, source) joining t16's diversity diagnostics
    * with m5's temperature-mix plan, the table a curation team reads to
    * decide which domains to keep, boost, or cut. Both inputs are green
    * oracle relations keyed by the same (lang, source); the join is
    * domain-sized (broadcasts at any corpus scale). */
  def exportDomainCards(spark: SparkSession, dir: String): DataFrame = {
    val div = graft.text.TextAnalysis.lexicalDiversity(spark, dir)
      .select("lang", "source", "n_tokens", "n_types",
        "ttr_milli", "hapax_milli")
    val mix = graft.text.CorpusPrep.temperatureMix(spark, dir)
      .select("lang", "source", "n_docs", "n_chars_group",
        "mix_share", "rate", "direction")
    div.join(mix, Seq("lang", "source"))
      .select(col("lang"), col("source"), col("n_docs"),
        col("n_chars_group"), col("n_tokens"), col("n_types"),
        col("ttr_milli"), col("hapax_milli"),
        col("mix_share"), col("rate"), col("direction"))
      .orderBy("lang", "source")
  }

  val exportDomainCardsSql: String =
    s"""WITH div AS (
       |  SELECT lang, source, n_tokens, n_types, ttr_milli, hapax_milli
       |  FROM (${graft.text.TextAnalysis.lexicalDiversitySql})),
       |mix AS (
       |  SELECT lang, source, n_docs, n_chars_group, mix_share, rate, direction
       |  FROM (${graft.text.CorpusPrep.temperatureMixSql}))
       |SELECT d.lang, d.source, m.n_docs, m.n_chars_group, d.n_tokens,
       |  d.n_types, d.ttr_milli, d.hapax_milli, m.mix_share, m.rate,
       |  m.direction
       |FROM div d JOIN mix m USING (lang, source)
       |ORDER BY d.lang, d.source""".stripMargin

  /** x9: the GROWTH DASHBOARD export — one NDJSON row per calendar day
    * joining e13's DAU decomposition with e15's trailing-7-day active
    * series, plus the stickiness ratio (DAU / trailing-7d-AU — the
    * DAU/WAU engagement metric) as one exact-integer division in
    * double. The x1/x3/x6 discipline: a flat, column-stable dataset a
    * BI tool ingests directly; both parents are green oracle-checked
    * keys, the join key is the calendar day, and the relation is
    * |days|-sized — free at any corpus scale. */
  def exportGrowth(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventsBatch
    EventsBatch.growthAccounting(spark, dir)
      .join(EventsBatch.rollingDistinct(spark, dir)
          .withColumnRenamed("window_day", "event_date"),
        Seq("event_date"))
      .select(col("event_date").as("date"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"), col("n_churned"),
        col("n_active_7d"),
        (col("n_active").cast("double") / col("n_active_7d").cast("double"))
          .as("stickiness"))
      .orderBy("date")
  }

  val exportGrowthSql: String =
    s"""WITH g AS (${graft.streaming.EventsBatch.growthAccountingSql}),
       |r AS (${graft.streaming.EventsBatch.rollingDistinctSql()})
       |SELECT g.event_date AS date, g.n_active, g.n_new, g.n_retained,
       |  g.n_resurrected, g.n_churned, r.n_active_7d,
       |  CAST(g.n_active AS DOUBLE) / CAST(r.n_active_7d AS DOUBLE)
       |    AS stickiness
       |FROM g JOIN r ON g.event_date = r.window_day
       |ORDER BY date""".stripMargin

  /** x10: TABLE-HEALTH REPORT — the per-table data-quality card an
    * ingest pipeline publishes after every batch: row count for all
    * seven warehouse tables plus the k9 referential-integrity rollup
    * for the four that carry foreign keys (edges audited, edges clean,
    * orphan keys/rows, NULL FKs) and a three-way health verdict
    * (`ok` / `violations` / `no_fk` for pure dimension tables). A
    * projection-rollup over the k9 relation joined to seven count(*)
    * aggregates — every input is metadata-priced at any scale (counts
    * are map-combinable; k9's shape is its own key-sized argument). */
  def exportTableHealth(spark: SparkSession, dir: String): DataFrame = {
    val tables: Seq[(String, DataFrame)] = Seq(
      "customer" -> Tables.customer(spark, dir),
      "lineitem" -> Tables.lineitem(spark, dir),
      "nation" -> Tables.nation(spark, dir),
      "orders" -> Tables.orders(spark, dir),
      "part" -> Tables.part(spark, dir),
      "region" -> Tables.region(spark, dir),
      "supplier" -> Tables.supplier(spark, dir))
    val counts = tables.map { case (n, df) =>
      df.agg(count(lit(1)).as("n_rows")).select(lit(n).as("table_name"), col("n_rows"))
    }.reduce(_ unionByName _)
    val fk = graft.analytics.Profile.fkIntegrity(spark, dir)
      .withColumn("table_name", split(col("edge_name"), "_").getItem(0))
      .groupBy("table_name")
      .agg(count(lit(1)).as("n_fk_edges"),
        sum(when(col("verdict") === "ok", 1L).otherwise(0L)).as("n_ok_edges"),
        sum(col("orphan_keys")).as("orphan_keys"),
        sum(col("orphan_rows")).as("orphan_rows"),
        sum(col("null_fk_rows")).as("null_fk_rows"))
    counts.join(fk, Seq("table_name"), "left")
      .select(col("table_name"), col("n_rows"),
        coalesce(col("n_fk_edges"), lit(0L)).as("n_fk_edges"),
        coalesce(col("n_ok_edges"), lit(0L)).as("n_ok_edges"),
        coalesce(col("orphan_keys"), lit(0L)).as("orphan_keys"),
        coalesce(col("orphan_rows"), lit(0L)).as("orphan_rows"),
        coalesce(col("null_fk_rows"), lit(0L)).as("null_fk_rows"),
        when(col("n_fk_edges").isNull, "no_fk")
          .when(col("n_ok_edges") === col("n_fk_edges"), "ok")
          .otherwise("violations").as("health"))
      .orderBy("table_name")
  }

  val exportTableHealthSql: String = {
    val names = Seq("customer", "lineitem", "nation", "orders",
      "part", "region", "supplier")
    val counts = names.map(n =>
      s"SELECT '$n' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows FROM $n")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH fk_raw AS (${graft.analytics.Profile.fkIntegritySql}),
       |fk AS (
       |  SELECT string_split(edge_name, '_')[1] AS table_name,
       |    CAST(COUNT(*) AS BIGINT) AS n_fk_edges,
       |    CAST(SUM(CASE WHEN verdict = 'ok' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_ok_edges,
       |    CAST(SUM(orphan_keys) AS BIGINT) AS orphan_keys,
       |    CAST(SUM(orphan_rows) AS BIGINT) AS orphan_rows,
       |    CAST(SUM(null_fk_rows) AS BIGINT) AS null_fk_rows
       |  FROM fk_raw GROUP BY 1),
       |counts AS (
       |  $counts)
       |SELECT c.table_name, c.n_rows,
       |  COALESCE(f.n_fk_edges, 0) AS n_fk_edges,
       |  COALESCE(f.n_ok_edges, 0) AS n_ok_edges,
       |  COALESCE(f.orphan_keys, 0) AS orphan_keys,
       |  COALESCE(f.orphan_rows, 0) AS orphan_rows,
       |  COALESCE(f.null_fk_rows, 0) AS null_fk_rows,
       |  CASE WHEN f.n_fk_edges IS NULL THEN 'no_fk'
       |    WHEN f.n_ok_edges = f.n_fk_edges THEN 'ok'
       |    ELSE 'violations' END AS health
       |FROM counts c LEFT JOIN fk f USING (table_name)
       |ORDER BY table_name""".stripMargin
  }

  /** x11: the STREAM-HEALTH drift card — one BI row per event type
    * joining the three independent drift detectors: e19's bucketed TV
    * distance (mass moved), e24's exact-cent KS distance (shape moved
    * anywhere), and e23's CUSUM (sustained level shift), plus a
    * composed verdict: `drifted` when any distribution test trips,
    * `level_shift` when only the volume CUSUM alarms, else `stable`.
    * The monitoring page behind the individual detectors — the same
    * fifth-dataset move as x6's anomalies card. Shape: three
    * |types|-bounded relations joined on event_type; all heavy lifting
    * happens (and is plan-gated) inside the parents. */
  def exportDriftCards(spark: SparkSession, dir: String): DataFrame = {
    val tv = graft.streaming.EventsBatch.driftMonitor(spark, dir)
      .select(col("event_type"), col("tv_milli"),
        col("is_drifted").as("tv_drifted"))
    val ks = graft.streaming.EventsBatch.ksDrift(spark, dir)
      .select(col("event_type"), col("ks_milli"), col("v_at_max"),
        col("is_drifted").as("ks_drifted"))
    val cu = graft.streaming.EventsBatch.cusumChangepoint(spark, dir)
      .groupBy(col("event_type"))
      .agg(sum(when(col("is_alarm"), 1L).otherwise(0L)).cast("long")
          .as("n_alarm_days"),
        max(greatest(col("cusum_pos_milli"), col("cusum_neg_milli")))
          .as("max_cusum_milli"),
        max(when(col("is_alarm"), col("d"))).as("last_alarm_date"))
    tv.join(ks, Seq("event_type"))
      .join(cu, Seq("event_type"))
      .withColumn("verdict",
        when(col("tv_drifted") || col("ks_drifted"), "drifted")
          .when(col("n_alarm_days") > 0, "level_shift")
          .otherwise("stable"))
      .orderBy(col("event_type"))
  }

  val exportDriftCardsSql: String =
    s"""WITH tv AS (
       |  SELECT event_type, tv_milli, is_drifted AS tv_drifted
       |  FROM (${graft.streaming.EventsBatch.driftMonitorSql()})),
       |ks AS (
       |  SELECT event_type, ks_milli, v_at_max, is_drifted AS ks_drifted
       |  FROM (${graft.streaming.EventsBatch.ksDriftSql()})),
       |cu AS (
       |  SELECT event_type,
       |    CAST(SUM(CASE WHEN is_alarm THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_alarm_days,
       |    CAST(MAX(GREATEST(cusum_pos_milli, cusum_neg_milli)) AS BIGINT)
       |      AS max_cusum_milli,
       |    MAX(CASE WHEN is_alarm THEN d END) AS last_alarm_date
       |  FROM (${graft.streaming.EventsBatch.cusumChangepointSql()})
       |  GROUP BY event_type)
       |SELECT t.event_type, t.tv_milli, t.tv_drifted,
       |  k.ks_milli, k.v_at_max, k.ks_drifted,
       |  c.n_alarm_days, c.max_cusum_milli, c.last_alarm_date,
       |  CASE WHEN t.tv_drifted OR k.ks_drifted THEN 'drifted'
       |    WHEN c.n_alarm_days > 0 THEN 'level_shift'
       |    ELSE 'stable' END AS verdict
       |FROM tv t JOIN ks k USING (event_type) JOIN cu c USING (event_type)
       |ORDER BY t.event_type""".stripMargin

  /** x13: CORPUS-HEALTH card — the ONE-ROW summary a data lead reads
    * before approving a corpus snapshot for training, composed from
    * five green relations: t10's vocabulary dashboard, d25's
    * duplication inflation, and the flagged-document counts from the
    * boilerplate (d15), contamination (d12) and dedup-verdict (d16)
    * passes. Every column is an exact count or milli off relations
    * the oracle already certifies; the joins are 1-row × 1-row. */
  def exportCorpusHealth(spark: SparkSession, dir: String): DataFrame = {
    val stats = graft.text.CorpusPrep.corpusStats(spark, dir)
      .select(col("n_tokens"), col("vocab_size"), col("n_hapax"))
    val inflation = graft.dedup.Dedup.dupInflation(spark, dir)
      .select(col("n_docs"), col("n_dup_clusters"),
        col("n_redundant_docs"), col("wasted_milli"))
    val boiler = graft.dedup.Dedup.boilerplate(spark, dir)
      .agg(sum(when(col("is_boilerplate"), 1L).otherwise(0L)).cast("long")
        .as("n_boilerplate_docs"))
    val contam = graft.text.CorpusPrep.contamination(spark, dir)
      .agg(sum(when(col("is_contaminated"), 1L).otherwise(0L)).cast("long")
        .as("n_contaminated_docs"))
    val dropped = graft.dedup.Dedup.dedupVerdict(spark, dir)
      .agg(sum(when(col("action") === "drop", 1L).otherwise(0L)).cast("long")
        .as("n_dropped_docs"))
    inflation.crossJoin(stats).crossJoin(boiler).crossJoin(contam)
      .crossJoin(dropped)
      .select(col("n_docs"), col("n_tokens"), col("vocab_size"),
        col("n_hapax"), col("n_dup_clusters"), col("n_redundant_docs"),
        col("wasted_milli"), col("n_boilerplate_docs"),
        col("n_contaminated_docs"), col("n_dropped_docs"))
  }

  def exportCorpusHealthSql: String =
    s"""WITH stats AS (
       |  SELECT n_tokens, vocab_size, n_hapax
       |  FROM (${graft.text.CorpusPrep.corpusStatsSql})),
       |infl AS (
       |  SELECT n_docs, n_dup_clusters, n_redundant_docs, wasted_milli
       |  FROM (${graft.dedup.Dedup.dupInflationSql()})),
       |boiler AS (
       |  SELECT CAST(SUM(CASE WHEN is_boilerplate THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_boilerplate_docs
       |  FROM (${graft.dedup.Dedup.boilerplateSql()})),
       |contam AS (
       |  SELECT CAST(SUM(CASE WHEN is_contaminated THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_contaminated_docs
       |  FROM (${graft.text.CorpusPrep.contaminationSql})),
       |dropped AS (
       |  SELECT CAST(SUM(CASE WHEN action = 'drop' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dropped_docs
       |  FROM (${graft.dedup.Dedup.dedupVerdictSql()}))
       |SELECT n_docs, n_tokens, vocab_size, n_hapax, n_dup_clusters,
       |  n_redundant_docs, wasted_milli, n_boilerplate_docs,
       |  n_contaminated_docs, n_dropped_docs
       |FROM infl CROSS JOIN stats CROSS JOIN boiler
       |CROSS JOIN contam CROSS JOIN dropped""".stripMargin

  /** x12: RETRIEVAL-STACK QA card — one row per query over the shared
    * doc/vec id space, joining the three ranking engines a retrieval
    * deployment runs side by side: exact semantic top-1 (v1), lexical
    * BM25 top-1 (t15), and the RRF-fused top-1 (h2), with the
    * agreement diagnostics a relevance team actually reads: do the
    * engines' winners coincide, and how much do their top-5 lists
    * overlap. All parents are green oracle-checked relations;
    * query-set-sized joins only. */
  def exportRetrievalCards(spark: SparkSession, dir: String,
                           nQueries: Int = 3): DataFrame = {
    import graft.vector.Similarity
    import org.apache.spark.sql.expressions.Window
    // the two parent rankings are query-set-sized silvers: the memo's
    // leaf lets the card's four derivations share one build instead of
    // re-running the corpus-touching parent per column, and repeated
    // card calls don't re-run BM25/cosine
    val sem5 = graft.model.Silver.memoize(spark, s"x12sem:$nQueries", dir) {
      Similarity.cosineTopK(spark, dir, 10, nQueries)
        .select(col("query_id"), col("neighbor_id").as("doc"),
          col("rank").cast("long").as("sem_rank"))
    }
    val lex5 = graft.model.Silver.memoize(spark, s"x12lex:$nQueries", dir) {
      graft.text.TextAnalysis.bm25(spark, dir, nQueries, 10)
        .select(col("query_id"), col("doc_id").as("doc"),
          col("rank").as("lex_rank"))
    }
    val sem = sem5.filter(col("sem_rank") === 1)
      .select(col("query_id"), col("doc").as("sem_top1"))
    val lex = lex5.filter(col("lex_rank") === 1)
      .select(col("query_id"), col("doc").as("lex_top1"))
    // h2's RRF algebra inlined over the SAME materialized parents
    val fusedAll = lex5.join(sem5, Seq("query_id", "doc"), "full_outer")
      .withColumn("rrf_milli",
        coalesce(expr("60000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("60000 div (60 + sem_rank)"), lit(0L)))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_milli").desc, col("doc").asc)
    val fused = fusedAll.withColumn("fr", row_number().over(wf))
      .filter(col("fr") === 1)
      .select(col("query_id"), col("doc").as("fused_top1"),
        col("rrf_milli").as("fused_rrf_milli"))
    val overlap = sem5.filter(col("sem_rank") <= 5)
      .select(col("query_id"), col("doc"))
      .join(lex5.filter(col("lex_rank") <= 5)
        .select(col("query_id"), col("doc")), Seq("query_id", "doc"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("overlap_at_5"))
    sem.join(lex, "query_id")
      .join(fused, "query_id")
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), col("sem_top1"), col("lex_top1"),
        col("fused_top1"), col("fused_rrf_milli"),
        (col("sem_top1") === col("lex_top1")).as("tops_agree"),
        coalesce(col("overlap_at_5"), lit(0L)).as("overlap_at_5"))
      .orderBy(col("query_id"))
  }

  def exportRetrievalCardsSql(nQueries: Int = 3): String = {
    import graft.vector.Similarity
    s"""WITH sem AS (
       |  SELECT query_id, neighbor_id AS sem_top1
       |  FROM (${Similarity.cosineTopKSql(5, nQueries)}) WHERE rank = 1),
       |lex AS (
       |  SELECT query_id, doc_id AS lex_top1
       |  FROM (${graft.text.TextAnalysis.bm25Sql(nQueries, 5)})
       |  WHERE rank = 1),
       |fused AS (
       |  SELECT query_id, doc AS fused_top1, rrf_milli AS fused_rrf_milli
       |  FROM (${Similarity.rrfFusionSql(nQueries)}) WHERE fused_rank = 1),
       |ov AS (
       |  SELECT s.query_id, CAST(COUNT(*) AS BIGINT) AS overlap_at_5
       |  FROM (SELECT query_id, neighbor_id AS doc
       |        FROM (${Similarity.cosineTopKSql(5, nQueries)})) s
       |  JOIN (SELECT query_id, doc_id AS doc
       |        FROM (${graft.text.TextAnalysis.bm25Sql(nQueries, 5)})) l
       |    ON s.query_id = l.query_id AND s.doc = l.doc
       |  GROUP BY s.query_id)
       |SELECT sem.query_id, sem_top1, lex_top1, fused_top1,
       |  fused_rrf_milli,
       |  sem_top1 = lex_top1 AS tops_agree,
       |  COALESCE(ov.overlap_at_5, 0) AS overlap_at_5
       |FROM sem
       |JOIN lex ON lex.query_id = sem.query_id
       |JOIN fused ON fused.query_id = sem.query_id
       |LEFT JOIN ov ON ov.query_id = sem.query_id
       |ORDER BY sem.query_id""".stripMargin
  }

  /** x14: KPI CARD MELT — the a9 KPI row UNPIVOTED into (metric, value)
    * rows via Spark's first-class `Dataset.unpivot` (the relational
    * MELT/UNPIVOT operator no other key exercises; the inverse of
    * a20's pivot). BI tools ingest long-form metric tables; the wide
    * card melts without a UNION-ALL re-scan per metric — unpivot is
    * one Expand pass over the 1-row input. Values are exact cents /
    * counts (longs), so the key hash-checks; the reference's
    * `mobile` drop (get-analytics:213-216) is preserved. */
  def kpiMelt(spark: SparkSession, dir: String,
              from: String = graft.etl.Defaults.rangeStart,
              to: String = graft.etl.Defaults.rangeEnd): DataFrame = {
    def pay(m: String) =
      (coalesce(sum(when(col("payment_method") === m, col("amt_dec"))),
        lit(java.math.BigDecimal.ZERO).cast(Tables.Money)) * 100)
        .cast("long").as(s"payment_${m}_cents")
    val card = StoreDaily.paymentDec(spark, dir)
      .filter(col("sale_date").between(from, to))
      .agg(
        (sum(col("gross_dec")) * 100).cast("long").as("total_sales_cents"),
        sum(col("txn")).cast("long").as("total_transactions"),
        sum(col("item_count")).cast("long").as("total_items"),
        pay("cash"), pay("credit"), pay("debit"), pay("gift_card"))
    card.unpivot(Array.empty, "metric", "value")
      .orderBy(col("metric"))
  }

  def kpiMeltSql(from: String = graft.etl.Defaults.rangeStart,
                 to: String = graft.etl.Defaults.rangeEnd): String =
    s"""WITH s AS (${Tables.salesWithPaymentSql}),
       |card AS (
       |  SELECT
       |    CAST(SUM(line_total) * 100 AS BIGINT) AS total_sales_cents,
       |    CAST(COUNT(*) AS BIGINT) AS total_transactions,
       |    CAST(SUM(quantity) AS BIGINT) AS total_items,
       |    CAST(COALESCE(SUM(CASE WHEN payment_method = 'cash'
       |      THEN line_total - discount_amount END), 0) * 100 AS BIGINT)
       |      AS payment_cash_cents,
       |    CAST(COALESCE(SUM(CASE WHEN payment_method = 'credit'
       |      THEN line_total - discount_amount END), 0) * 100 AS BIGINT)
       |      AS payment_credit_cents,
       |    CAST(COALESCE(SUM(CASE WHEN payment_method = 'debit'
       |      THEN line_total - discount_amount END), 0) * 100 AS BIGINT)
       |      AS payment_debit_cents,
       |    CAST(COALESCE(SUM(CASE WHEN payment_method = 'gift_card'
       |      THEN line_total - discount_amount END), 0) * 100 AS BIGINT)
       |      AS payment_gift_card_cents
       |  FROM s WHERE sale_date BETWEEN '$from' AND '$to')
       |SELECT metric, value FROM (
       |  SELECT 'total_sales_cents' AS metric, total_sales_cents AS value FROM card
       |  UNION ALL SELECT 'total_transactions', total_transactions FROM card
       |  UNION ALL SELECT 'total_items', total_items FROM card
       |  UNION ALL SELECT 'payment_cash_cents', payment_cash_cents FROM card
       |  UNION ALL SELECT 'payment_credit_cents', payment_credit_cents FROM card
       |  UNION ALL SELECT 'payment_debit_cents', payment_debit_cents FROM card
       |  UNION ALL SELECT 'payment_gift_card_cents', payment_gift_card_cents
       |    FROM card)
       |ORDER BY metric""".stripMargin

  /** Exact integer-cents dollar rendering `123.45` shared by both engines
    * (the float `{:,.2f}` of the reference is engine-divergent; thousands
    * separators are scoped out with it). Negative amounts format the
    * ABSOLUTE value and prepend the sign explicitly: both Spark `DIV`
    * and DuckDB `//` truncate toward zero (verified: -7 // 2 = -3 in
    * DuckDB), and `%` keeps the dividend's sign in both, so `-250`
    * would otherwise render as `-2.-50`; the abs/sign form sidesteps
    * the negative-operand rendering entirely. */
  private[graft] def moneySpark(cents: String): String =
    s"(CASE WHEN $cents < 0 THEN '-' ELSE '' END || " +
      s"CAST(abs($cents) DIV 100 AS STRING) || '.' || " +
      s"lpad(CAST(abs($cents) % 100 AS STRING), 2, '0'))"
  private[graft] def moneyDuck(cents: String): String =
    s"(CASE WHEN $cents < 0 THEN '-' ELSE '' END || " +
      s"CAST(abs($cents) // 100 AS VARCHAR) || '.' || " +
      s"lpad(CAST(abs($cents) % 100 AS VARCHAR), 2, '0'))"

  /** NULL-total rendering for the one nullable money field (avg over a
    * zero-transaction date): without the COALESCE, Spark's `concat_ws`
    * silently DROPS the null line while DuckDB's `||` chain nulls the
    * WHOLE report row — a single such date flips the r3 oracle. */
  private[graft] def moneyOrNaSpark(cents: String): String =
    s"COALESCE(${moneySpark(cents)}, 'N/A')"
  private[graft] def moneyOrNaDuck(cents: String): String =
    s"COALESCE(${moneyDuck(cents)}, 'N/A')"

  /** r3: the ASSEMBLED DAILY REPORT — one row per date carrying the full
    * concatenated plain-text report of generate-report/
    * lambda_function.py:52-175, closing the last reference Lambda
    * end-to-end: header, company summary (a4), best/worst stores (a5),
    * payment breakdown sorted by descending amount (a6), the per-date
    * top-5 products of the lossy rollup (a7's algebra), the top-5
    * anomaly lines in r1's severity-priority order, and the footer.
    * Deviations from the reference text, by house rule: money renders as
    * exact integer cents (no commas), initcap labels (`Gift_card`) reuse
    * r1's convention rather than Python `.title()`, payment ties break
    * on method name, and the anomaly lines are the deterministic a11
    * rubric standing in for the LLM-drafted text (the l1/r2 seam).
    *
    * Shape: every section is an aggregate of an already-cached
    * dimension-sized silver (rollupDec / paymentDec / topProductsDec /
    * anomalies), the section blocks meet on the sale_date key
    * (|days|-sized joins), and the one cross join carries a broadcast
    * 1-row store-universe count — no fact-table scan anywhere. */
  def assembledReport(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val eq = "=" * 40
    val dash = "-" * 40
    val sd = StoreDaily.rollupDec(spark, dir)
    val totalStores = sd.agg(
      countDistinct(col("store_id")).as("n_stores_total"))
    val comp = sd.groupBy(col("sale_date"))
      .agg((sum(col("gross_dec")) * 100).cast("long").as("total_cents"),
        sum(col("transaction_count")).as("txn"),
        sum(col("item_count")).as("items"),
        count(lit(1)).as("n_stores"))
      .withColumn("avg_cents",
        expr("CASE WHEN txn = 0 THEN NULL ELSE total_cents DIV txn END"))
    val wBest = Window.partitionBy(col("sale_date"))
      .orderBy(col("gross_dec").desc, col("store_id").asc)
    val wWorst = Window.partitionBy(col("sale_date"))
      .orderBy(col("gross_dec").asc, col("store_id").desc)
    val bw = sd
      .withColumn("rb", row_number().over(wBest))
      .withColumn("rw", row_number().over(wWorst))
      .groupBy(col("sale_date"))
      .agg(
        max(when(col("rb") === 1, col("store_id"))).as("best_id"),
        max(when(col("rb") === 1, (col("gross_dec") * 100).cast("long")))
          .as("best_cents"),
        max(when(col("rw") === 1, col("store_id"))).as("worst_id"),
        max(when(col("rw") === 1, (col("gross_dec") * 100).cast("long")))
          .as("worst_cents"))
    val pay = StoreDaily.paymentDec(spark, dir)
      .groupBy(col("sale_date"), col("payment_method"))
      .agg((sum(col("amt_dec")) * 100).cast("long").as("cents"))
      .withColumn("pay_line", expr(
        "'  ' || initcap(payment_method) || ': $' || " + moneySpark("cents")))
      .groupBy(col("sale_date"))
      .agg(array_join(transform(
        array_sort(collect_list(struct((-col("cents")).as("neg"),
          col("payment_method"), col("pay_line")))),
        x => x.getField("pay_line")), "\n").as("pay_block"))
    val prodRanked = StoreDaily.topProductsDec(spark, dir, 5)
      .groupBy(col("sale_date"), col("sku"))
      .agg(sum(col("units")).as("units"),
        (sum(col("rev_dec")) * 100).cast("long").as("cents"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("sale_date"))
        .orderBy(col("cents").desc, col("sku").asc)))
      .filter(col("rn") <= 5)
    val names = Tables.part(spark, dir)
      .select(col("p_partkey").as("sku"), col("p_name").as("product_name"))
    val prod = prodRanked.join(broadcast(names), Seq("sku"), "left")
      .withColumn("prod_line", expr(
        "CAST(rn AS STRING) || '. ' || COALESCE(product_name, 'Unknown') || " +
          "' - ' || CAST(units AS STRING) || ' units - $' || " +
          moneySpark("cents")))
      .groupBy(col("sale_date"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("prod_line")))),
        x => x.getField("prod_line")), "\n").as("prod_block"))
    val anom = reportLines(spark, dir)
      .withColumn("rn", row_number().over(Window.partitionBy(col("sale_date"))
        .orderBy(col("priority_rank"), col("store_id"))))
      .filter(col("rn") <= 5)
      .groupBy(col("sale_date"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("line")))),
        x => x.getField("line")), "\n").as("anom_block"))
    comp.crossJoin(broadcast(totalStores))
      .join(bw, Seq("sale_date"))
      .join(pay, Seq("sale_date"), "left")
      .join(prod, Seq("sale_date"), "left")
      .join(anom, Seq("sale_date"), "left")
      .select(col("sale_date"), concat_ws("\n",
        lit("SMURF MEMORABILIA DAILY SALES REPORT"),
        lit(eq),
        concat(lit("Date: "), col("sale_date")),
        lit(""),
        lit("COMPANY SUMMARY"),
        lit(dash),
        concat(lit("Total Sales: $"), expr(moneySpark("total_cents"))),
        concat(lit("Transactions: "), col("txn").cast("string")),
        concat(lit("Total Items: "), col("items").cast("string")),
        concat(lit("Stores Reporting: "), col("n_stores").cast("string"),
          lit("/"), col("n_stores_total").cast("string")),
        concat(lit("Avg Transaction: $"), expr(moneyOrNaSpark("avg_cents"))),
        lit(""),
        concat(lit("Best Store: #"), col("best_id"), lit(" ($"),
          expr(moneySpark("best_cents")), lit(")")),
        concat(lit("Worst Store: #"), col("worst_id"), lit(" ($"),
          expr(moneySpark("worst_cents")), lit(")")),
        lit(""),
        lit("PAYMENT BREAKDOWN"),
        lit(dash),
        coalesce(col("pay_block"), lit("")),
        lit(""),
        lit("TOP PRODUCTS"),
        lit(dash),
        coalesce(col("prod_block"), lit("")),
        lit(""),
        lit("ANOMALIES DETECTED"),
        lit(dash),
        coalesce(col("anom_block"),
          lit("No significant insights detected for today.")),
        lit(""),
        lit(dash),
        lit("Report generated by Sales Data Platform")).as("report"))
      .orderBy(col("sale_date"))
  }

  val assembledReportSql: String = {
    val nl = "chr(10)"
    s"""WITH sd AS (${StoreDaily.rollupDecSql}),
       |tot AS (SELECT COUNT(DISTINCT store_id) AS n_stores_total FROM sd),
       |comp AS (
       |  SELECT sale_date,
       |    CAST(SUM(gross_dec) * 100 AS BIGINT) AS total_cents,
       |    CAST(SUM(transaction_count) AS BIGINT) AS txn,
       |    CAST(SUM(item_count) AS BIGINT) AS items,
       |    CAST(COUNT(*) AS BIGINT) AS n_stores
       |  FROM sd GROUP BY 1),
       |compa AS (
       |  SELECT *, CASE WHEN txn = 0 THEN NULL
       |    ELSE total_cents // txn END AS avg_cents FROM comp),
       |ranked AS (
       |  SELECT sale_date, store_id, CAST(gross_dec * 100 AS BIGINT) AS cents,
       |    ROW_NUMBER() OVER (PARTITION BY sale_date
       |      ORDER BY gross_dec DESC, store_id ASC) AS rb,
       |    ROW_NUMBER() OVER (PARTITION BY sale_date
       |      ORDER BY gross_dec ASC, store_id DESC) AS rw
       |  FROM sd),
       |bw AS (
       |  SELECT sale_date,
       |    MAX(CASE WHEN rb = 1 THEN store_id END) AS best_id,
       |    MAX(CASE WHEN rb = 1 THEN cents END) AS best_cents,
       |    MAX(CASE WHEN rw = 1 THEN store_id END) AS worst_id,
       |    MAX(CASE WHEN rw = 1 THEN cents END) AS worst_cents
       |  FROM ranked GROUP BY 1),
       |payd AS (
       |  SELECT sale_date, payment_method,
       |    CAST(SUM(line_total - discount_amount) * 100 AS BIGINT) AS cents
       |  FROM (${Tables.salesWithPaymentSql})
       |  GROUP BY 1, 2),
       |pay AS (
       |  SELECT sale_date, string_agg(
       |    '  ' || upper(substr(payment_method, 1, 1))
       |      || substr(payment_method, 2) || ': $$' || ${moneyDuck("cents")},
       |    $nl ORDER BY cents DESC, payment_method) AS pay_block
       |  FROM payd GROUP BY 1),
       |prodd AS (
       |  SELECT sale_date, sku, CAST(SUM(units) AS BIGINT) AS units,
       |    CAST(SUM(rev_dec) * 100 AS BIGINT) AS cents
       |  FROM (${StoreDaily.topProductsDecSql(5)}) GROUP BY 1, 2),
       |prodr AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY sale_date
       |    ORDER BY cents DESC, sku ASC) AS rn FROM prodd),
       |prod AS (
       |  SELECT sale_date, string_agg(
       |    CAST(rn AS VARCHAR) || '. ' || COALESCE(p_name, 'Unknown')
       |      || ' - ' || CAST(units AS VARCHAR) || ' units - $$'
       |      || ${moneyDuck("cents")},
       |    $nl ORDER BY rn) AS prod_block
       |  FROM prodr LEFT JOIN part ON sku = p_partkey
       |  WHERE rn <= 5 GROUP BY 1),
       |ar AS (
       |  SELECT sale_date, store_id,
       |    CASE severity WHEN 'critical' THEN 0 WHEN 'warning' THEN 1 ELSE 2 END AS priority_rank,
       |    (CASE severity WHEN 'critical' THEN '[CRIT]' WHEN 'warning' THEN '[WARN]' ELSE '[INFO]' END) || ' ' || upper(substr(severity, 1, 1)) || substr(severity, 2) || ': store ' || store_id || ' on ' || sale_date || ' deviated ~' || CAST(CAST(floor(abs(deviation_pct)) AS BIGINT) AS VARCHAR) || '%' AS line
       |  FROM (${History.anomaliesBodySql}) a),
       |arr AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY sale_date
       |    ORDER BY priority_rank, store_id) AS rn FROM ar),
       |anom AS (
       |  SELECT sale_date, string_agg(line, $nl
       |    ORDER BY priority_rank, store_id) AS anom_block
       |  FROM arr WHERE rn <= 5 GROUP BY 1)
       |SELECT c.sale_date,
       |  'SMURF MEMORABILIA DAILY SALES REPORT' || $nl ||
       |  '${"=" * 40}' || $nl ||
       |  'Date: ' || c.sale_date || $nl ||
       |  '' || $nl ||
       |  'COMPANY SUMMARY' || $nl ||
       |  '${"-" * 40}' || $nl ||
       |  'Total Sales: $$' || ${moneyDuck("total_cents")} || $nl ||
       |  'Transactions: ' || CAST(txn AS VARCHAR) || $nl ||
       |  'Total Items: ' || CAST(items AS VARCHAR) || $nl ||
       |  'Stores Reporting: ' || CAST(n_stores AS VARCHAR) || '/'
       |    || CAST(n_stores_total AS VARCHAR) || $nl ||
       |  'Avg Transaction: $$' || ${moneyOrNaDuck("avg_cents")} || $nl ||
       |  '' || $nl ||
       |  'Best Store: #' || best_id || ' ($$' || ${moneyDuck("best_cents")}
       |    || ')' || $nl ||
       |  'Worst Store: #' || worst_id || ' ($$' || ${moneyDuck("worst_cents")}
       |    || ')' || $nl ||
       |  '' || $nl ||
       |  'PAYMENT BREAKDOWN' || $nl ||
       |  '${"-" * 40}' || $nl ||
       |  COALESCE(pay_block, '') || $nl ||
       |  '' || $nl ||
       |  'TOP PRODUCTS' || $nl ||
       |  '${"-" * 40}' || $nl ||
       |  COALESCE(prod_block, '') || $nl ||
       |  '' || $nl ||
       |  'ANOMALIES DETECTED' || $nl ||
       |  '${"-" * 40}' || $nl ||
       |  COALESCE(anom_block, 'No significant insights detected for today.')
       |    || $nl ||
       |  '' || $nl ||
       |  '${"-" * 40}' || $nl ||
       |  'Report generated by Sales Data Platform' AS report
       |FROM compa c
       |CROSS JOIN tot
       |JOIN bw ON c.sale_date = bw.sale_date
       |LEFT JOIN pay ON c.sale_date = pay.sale_date
       |LEFT JOIN prod ON c.sale_date = prod.sale_date
       |LEFT JOIN anom ON c.sale_date = anom.sale_date
       |ORDER BY c.sale_date""".stripMargin
  }
}
