package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The medallion materialization the reference implements with DynamoDB
  * puts (write-metrics:77-104, calc-company-metrics:117-133,
  * calc-product-metrics:117-133): persist the silver/gold summary tables
  * as parquet so every read path queries |stores|×|days|-sized relations
  * instead of re-aggregating the fact table.
  *
  * Scale posture: this is THE 100 TB architecture decision. The fact
  * table is touched once per ingest increment ([[graft.streaming.
  * StreamingIngest]] maintains the same tables incrementally, overwriting
  * only the touched (sale_date, store_id) partitions); everything in
  * `analytics/` runs on the materialized summaries. store_daily is
  * partitioned by sale_date — the access path of every history/trend
  * query — so date-range reads are directory pruning. Summary tables are
  * dimension-sized: company_daily is 1 row/day, product_daily is bounded
  * by 5×stores×days (the lossy top-5 construction) regardless of
  * fact-table size. */
object Materialize {

  /** Write the summary tables under `root`; returns their paths.
    *
    * Three independent chains run side by side, each on a fresh thread
    * that inherits the caller's Spark local properties (job group and
    * description included), so every job they start is attributed to the
    * caller: the `rollupDec` silver → store_daily, then company_daily;
    * `topProductsDec` → product_daily; `paymentDec` → payment_daily. No
    * two chains share a silver, so none waits on another's build. The
    * call returns once every chain has finished and rethrows the first
    * failure (in chain order).
    *
    * Each date-partitioned table is hash-clustered by `sale_date` into
    * `spark.sql.shuffle.partitions` write tasks: every date lands in one
    * task, so a table holds exactly one file per date, and all cores
    * write. Unclustered, a partitioned write leaves one file per
    * (task, date). */
  def writeSummaries(spark: SparkSession, dir: String, root: String): Map[String, String] = {
    val paths = Seq("store_daily", "company_daily", "product_daily", "payment_daily")
      .map(t => t -> s"$root/$t").toMap
    val tasks = spark.sessionState.conf.numShufflePartitions
    def byDate(df: DataFrame, table: String): Unit =
      df.repartition(tasks, col("sale_date")).write
        .partitionBy("sale_date")
        .mode("overwrite")
        .parquet(paths(table))

    sideBySide(Seq(
      () => {
        byDate(StoreDaily.rollupDec(spark, dir), "store_daily")
        CompanyDaily.rollup(spark, dir).write
          .mode("overwrite")
          .parquet(paths("company_daily"))
      },
      () => byDate(ProductDaily.rollupLossy(spark, dir), "product_daily"),
      // the payment dimension is join-derived (orders → payment_method);
      // materializing the per-(store, day, method) silver relation means
      // the orders join happens once per ingest increment, never per read
      // query
      () => byDate(StoreDaily.paymentDec(spark, dir), "payment_daily")))
    paths
  }

  /** Run `chains` on one fresh thread each, wait for all of them, then
    * rethrow the first failure in chain order. Fresh threads, not a pool:
    * a thread copies its creator's Spark local properties when it is
    * created, and only then. */
  private def sideBySide(chains: Seq[() => Unit]): Unit = {
    val failures = new Array[Throwable](chains.size)
    val threads = chains.zipWithIndex.map { case (chain, i) =>
      new Thread(() => try chain() catch { case t: Throwable => failures(i) = t },
        s"writeSummaries-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    failures.find(_ != null).foreach(t => throw t)
  }

  /** Bucketed variants of the summary tables: 8 buckets on store_id,
    * sorted within buckets. Two tables bucketed the same way join WITHOUT
    * an exchange on either side — at 1000 executors this is the
    * difference between a co-located hash join and a full-cluster shuffle
    * of both relations. Bucketing rides the session catalog
    * (`saveAsTable`); `spark.sql.sources.bucketing.enabled` is on by
    * default. Returns the two table names. */
  def writeBucketed(spark: SparkSession, dir: String): (String, String) = {
    // idempotent: drop catalog entries AND any orphaned managed location
    // (a killed session can leave the directory without the entry, which
    // fails CTAS with LOCATION_ALREADY_EXISTS)
    Seq("graft_store_daily_bucketed", "graft_store_top5_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$t")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    StoreDaily.rollupDec(spark, dir).write
      .bucketBy(8, "store_id").sortBy("store_id")
      .mode("overwrite")
      .saveAsTable("graft_store_daily_bucketed")
    StoreDaily.topProductsDec(spark, dir, 5)
      .groupBy(col("store_id"))
      .agg(sum(col("rev_dec")).as("top5_rev_dec"))
      .write
      .bucketBy(8, "store_id").sortBy("store_id")
      .mode("overwrite")
      .saveAsTable("graft_store_top5_bucketed")
    ("graft_store_daily_bucketed", "graft_store_top5_bucketed")
  }

  /** Join the two bucketed tables on their bucket key — the plan must
    * contain no ShuffleExchange (asserted in MaterializeSpec). */
  def bucketedJoin(spark: SparkSession): DataFrame = {
    val sd = spark.table("graft_store_daily_bucketed")
      .groupBy(col("store_id")).agg(sum(col("gross_dec")).as("gross_dec"))
    val t5 = spark.table("graft_store_top5_bucketed")
    sd.join(t5, Seq("store_id"))
      .select(col("store_id"), col("gross_dec").cast("double").as("total_sales"),
        col("top5_rev_dec").cast("double").as("top5_revenue"))
      .orderBy(col("store_id"))
  }

  /** Read the silver store-daily table (partition-pruned on sale_date). */
  def storeDaily(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/store_daily")

  /** The A4 company rollup recomputed FROM THE SILVER TABLE — the shape
    * every reference read path uses (query the summary store, never the
    * raw line items). Demonstrates the re-aggregation is closed over the
    * materialized schema. */
  def companyDailyFromSilver(spark: SparkSession, root: String): DataFrame =
    storeDaily(spark, root)
      .groupBy(col("sale_date"))
      .agg(
        sum(col("gross_dec")).as("sales_dec"),
        sum(col("transaction_count")).as("total_transactions"),
        count(lit(1)).as("store_count"))
      .select(col("sale_date"),
        col("sales_dec").cast("double").as("total_sales"),
        col("total_transactions"), col("store_count"))
      .orderBy(col("sale_date"))

  // ---------------------------------------------------------------- a66

  /** The ingest boundary for a66: facts at or before this date are
    * "yesterday's silver", facts after are "today's arrivals". Chosen
    * mid-corpus so the boundary month (1995-06) STRADDLES it — the
    * merge must genuinely combine partials with the same (store, month)
    * key, not just concatenate disjoint ranges. */
  val IngestBoundary = "1995-06-15"

  /** The two a66–a68 generations: yesterday's silver, today's arrivals. */
  private def boundarySlices: Seq[org.apache.spark.sql.Column] =
    Seq(col("sale_date") <= IngestBoundary, col("sale_date") > IngestBoundary)

  /** a66: INCREMENTAL AGGREGATE MAINTENANCE — the monthly revenue
    * rollup maintained as a [[Fold.rollup]] fold over the
    * [[IngestBoundary]] split: generation 0 is persisted to parquet
    * (yesterday's silver, what [[writeSummaries]] persists), today's
    * delta is aggregated alone and merged on top. The oracle recomputes
    * from the full fact table, so the hash match certifies
    * partial-aggregate merge == full recompute. */
  def incrementalRollup(spark: SparkSession, dir: String): DataFrame =
    graft.model.Silver.memoize(spark, "a66IncrementalRollup", dir) {
      Fold.rollupOf(Fold.chain(spark, Scratch.tempDir("a66-silver"), "roll",
          graft.model.Tables.sales(spark, dir), Fold.rollup, boundarySlices))
        .orderBy(col("store_id"), col("month"))
    }

  /** Full recompute from raw facts — what the merged silver must equal. */
  def incrementalRollupSql(): String =
    s"""SELECT store_id, substring(sale_date, 1, 7) AS month,
       |  CAST(SUM(line_total) AS DOUBLE) AS total_sales,
       |  CAST(COUNT(*) AS BIGINT) AS n_lines
       |FROM (${graft.model.Tables.salesSql})
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- a67

  /** a67: INCREMENTAL EXACT DISTINCT — the per-store distinct-sku
    * count maintained as a [[Fold.pages]] fold over the same split
    * as a66: IVM past the sum/count monoid. Unlike the HLL rung (sk1)
    * the result is exact, so the oracle's full-recompute
    * COUNT(DISTINCT) hash-certifies base ⊕ delta. */
  def incrementalDistinct(spark: SparkSession, dir: String): DataFrame =
    graft.model.Silver.memoize(spark, "a67IncrementalDistinct", dir) {
      Fold.distinctOf(
          Fold.chain(spark, Scratch.tempDir("a67-silver"), "pages",
            graft.model.Tables.sales(spark, dir), Fold.pages, boundarySlices),
          "n_distinct_skus", "store_id")
        .orderBy(col("store_id"))
    }

  /** Full recompute — the merged bitmap fold must equal it exactly. */
  def incrementalDistinctSql(): String =
    s"""SELECT store_id,
       |  CAST(COUNT(DISTINCT sku) AS BIGINT) AS n_distinct_skus
       |FROM (${graft.model.Tables.salesSql})
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- a68

  /** a68: INCREMENTAL TOP-K — per-store heavy hitters maintained as a
    * [[Fold.sketches]] fold over the same split as a66: the third
    * non-trivially-mergeable rung (a66 sum/count, a67 OR-bitmap, a68
    * Misra-Gries). Naive partials (per-slice top-k lists) would not
    * merge correctly; in the sketches' exactness regime the merged
    * summary is exact with max_err = 0, so the oracle's full-recompute
    * COUNT + ROW_NUMBER ranking hash-certifies it. */
  def incrementalTopK(spark: SparkSession, dir: String,
                      topK: Int = 5): DataFrame =
    graft.model.Silver.memoize(spark, s"a68IncrementalTopK:$topK", dir) {
      Fold.topKOf(
          Fold.chain(spark, Scratch.tempDir("a68-silver"), "sk",
            graft.model.Tables.sales(spark, dir), Fold.sketches, boundarySlices),
          topK)
        .orderBy("store_id", "rank")
    }

  /** Full recompute + exact ranking — what the merged sketches must
    * equal in the exactness regime (max_err pinned to 0). */
  def incrementalTopKSql(topK: Int = 5): String =
    s"""WITH s AS (${graft.model.Tables.salesSql}),
       |counts AS (
       |  SELECT store_id, CAST(sku AS VARCHAR) AS sku,
       |    CAST(COUNT(*) AS BIGINT) AS est_count
       |  FROM s GROUP BY 1, 2),
       |ranked AS (
       |  SELECT store_id, sku, est_count,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY store_id
       |      ORDER BY est_count DESC, sku ASC) AS BIGINT) AS rank
       |  FROM counts)
       |SELECT store_id, rank, sku, est_count, CAST(0 AS BIGINT) AS max_err
       |FROM ranked WHERE rank <= $topK
       |ORDER BY store_id, rank""".stripMargin
}
