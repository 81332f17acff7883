package graft.analytics

import graft.model.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Operational table diagnostics — the profiling passes an engineer (or a
  * cost-based optimizer) runs BEFORE committing a 100 TB job to a join
  * strategy: join-key skew profiling (k2) and per-column ANALYZE-style
  * statistics (x9). The reference pipeline has no explicit analogue —
  * its data volumes never need one — but any user pointing this engine
  * at a lake will; these are the first-class versions of the checks the
  * repo's own scaladoc performs by hand (salting arguments in
  * CorpusPrep, broadcast-side arguments in Dedup).
  */
object Profile {

  /** k2: JOIN-KEY SKEW PROFILE over lineitem's three join keys — the
    * numbers that decide a shuffle-join strategy: rows, distinct keys,
    * the heaviest key's count, mean key size (milli-precision integer),
    * the max/mean skew ratio, and a salt hint = ceil(max/mean) — the
    * bucket count that equalizes the heaviest key group to the mean
    * (the factor the salting trick in CorpusPrep's scaladoc assumes,
    * and what AQE's skew-join split discovers at runtime; profiling it
    * up front is how you pick bucketing/salting BEFORE paying a failed
    * stage at 100 TB).
    *
    * Shape: one stack() fan-out (map-side, no shuffle) so all three key
    * columns profile in a single scan, then a (key_col, key_val) count
    * — map-side-combinable, ONE data-sized exchange — and a 3-row
    * rollup riding on top. All-integer arithmetic; no sorts. */
  def skewProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .selectExpr("stack(3, 'l_orderkey', l_orderkey, 'l_partkey', l_partkey, " +
        "'l_suppkey', l_suppkey) AS (key_col, key_val)")
      .groupBy("key_col", "key_val").agg(count(lit(1)).as("c"))
      .groupBy("key_col").agg(
        sum("c").as("n_rows"),
        count(lit(1)).as("n_keys"),
        max("c").as("max_count"))
      .select(col("key_col"), col("n_rows"), col("n_keys"), col("max_count"),
        expr("n_rows * 1000 div n_keys").as("mean_milli"),
        expr("max_count * n_keys * 1000 div n_rows").as("skew_ratio_milli"),
        expr("(max_count * n_keys + n_rows - 1) div n_rows").as("salt_hint"))
      .orderBy("key_col")

  val skewProfileSql: String =
    """WITH kv AS (
      |  SELECT 'l_orderkey' AS key_col, l_orderkey AS key_val FROM lineitem
      |  UNION ALL
      |  SELECT 'l_partkey' AS key_col, l_partkey AS key_val FROM lineitem
      |  UNION ALL
      |  SELECT 'l_suppkey' AS key_col, l_suppkey AS key_val FROM lineitem),
      |per_key AS (
      |  SELECT key_col, key_val, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM kv GROUP BY 1, 2),
      |rolled AS (
      |  SELECT key_col,
      |    CAST(SUM(c) AS BIGINT) AS n_rows,
      |    CAST(COUNT(*) AS BIGINT) AS n_keys,
      |    CAST(MAX(c) AS BIGINT) AS max_count
      |  FROM per_key GROUP BY key_col)
      |SELECT key_col, n_rows, n_keys, max_count,
      |  n_rows * 1000 // n_keys AS mean_milli,
      |  max_count * n_keys * 1000 // n_rows AS skew_ratio_milli,
      |  (max_count * n_keys + n_rows - 1) // n_rows AS salt_hint
      |FROM rolled ORDER BY key_col""".stripMargin

  /** k3: per-column ANALYZE-style profile of the events table — row
    * count, null count, exact distinct count, and canonical-string
    * min/max per column: the statistics a cost-based optimizer feeds on
    * (join reorder, broadcast thresholds, NDV-based agg estimates) and
    * the drift check a pipeline runs on every new ingest batch.
    *
    * Shape: one pruned scan + aggregate PER COLUMN, unioned. On columnar
    * storage this is the right single-pass claim: the six column-pruned
    * scans together read exactly the table's bytes once, and each
    * branch's distinct shuffle carries ONE narrow column — where the
    * textbook multi-distinct Expand reads the bytes once but shuffles
    * every row replicated 6× at full row width (the wide props string
    * dominated; measured 2.3 s → ~0.5 s at sf0.1, and at 100 TB the
    * 6×-row-width exchange is the difference that matters). Min/max are
    * computed on native types (decimal for the money column, timestamp
    * for ts) and only then rendered to strings, so ordering is never
    * lexicographic-on-numerics. At 100 TB the exact distincts swap for
    * the HLL sketch path (sk1/sk5) — same output contract, fixed-size
    * partials; the exact form here is the certifier, the same
    * exact/approx twin contract as sk1–sk3. */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value").cast(Tables.Money).as("value_dec"), col("props"))
    def branch(name: String, c: String,
               repr: Column => Column = _.cast("string")): DataFrame =
      ev.select(col(c))
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col(c))).as("n_null"),
          countDistinct(col(c)).as("n_distinct"),
          repr(min(col(c))).as("min_repr"),
          repr(max(col(c))).as("max_repr"))
        .select(lit(name).as("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_repr"), col("max_repr"))
    branch("event_id", "event_id")
      .unionByName(branch("ts", "ts", c => unix_micros(c).cast("string")))
      .unionByName(branch("user_id", "user_id"))
      .unionByName(branch("event_type", "event_type", identity))
      .unionByName(branch("value", "value_dec"))
      .unionByName(branch("props", "props", identity))
      .orderBy("col_name")
  }

  val columnProfileSql: String =
    """WITH s AS (
      |  SELECT
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COUNT(event_id) AS BIGINT) AS nn_event_id,
      |    CAST(COUNT(DISTINCT event_id) AS BIGINT) AS nd_event_id,
      |    CAST(MIN(event_id) AS VARCHAR) AS mn_event_id,
      |    CAST(MAX(event_id) AS VARCHAR) AS mx_event_id,
      |    CAST(COUNT(ts) AS BIGINT) AS nn_ts,
      |    CAST(COUNT(DISTINCT ts) AS BIGINT) AS nd_ts,
      |    CAST(epoch_us(MIN(ts)) AS VARCHAR) AS mn_ts,
      |    CAST(epoch_us(MAX(ts)) AS VARCHAR) AS mx_ts,
      |    CAST(COUNT(user_id) AS BIGINT) AS nn_user_id,
      |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd_user_id,
      |    CAST(MIN(user_id) AS VARCHAR) AS mn_user_id,
      |    CAST(MAX(user_id) AS VARCHAR) AS mx_user_id,
      |    CAST(COUNT(event_type) AS BIGINT) AS nn_event_type,
      |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nd_event_type,
      |    MIN(event_type) AS mn_event_type,
      |    MAX(event_type) AS mx_event_type,
      |    CAST(COUNT(CAST(value AS DECIMAL(18,2))) AS BIGINT) AS nn_value,
      |    CAST(COUNT(DISTINCT CAST(value AS DECIMAL(18,2))) AS BIGINT) AS nd_value,
      |    CAST(MIN(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS mn_value,
      |    CAST(MAX(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS mx_value,
      |    CAST(COUNT(props) AS BIGINT) AS nn_props,
      |    CAST(COUNT(DISTINCT props) AS BIGINT) AS nd_props,
      |    MIN(props) AS mn_props,
      |    MAX(props) AS mx_props
      |  FROM events)
      |SELECT 'event_id' AS col_name, n AS n_rows, n - nn_event_id AS n_null,
      |  nd_event_id AS n_distinct, mn_event_id AS min_repr, mx_event_id AS max_repr FROM s
      |UNION ALL SELECT 'ts', n, n - nn_ts, nd_ts, mn_ts, mx_ts FROM s
      |UNION ALL SELECT 'user_id', n, n - nn_user_id, nd_user_id, mn_user_id, mx_user_id FROM s
      |UNION ALL SELECT 'event_type', n, n - nn_event_type, nd_event_type, mn_event_type, mx_event_type FROM s
      |UNION ALL SELECT 'value', n, n - nn_value, nd_value, mn_value, mx_value FROM s
      |UNION ALL SELECT 'props', n, n - nn_props, nd_props, mn_props, mx_props FROM s
      |ORDER BY col_name""".stripMargin

  /** k4: CLUSTERING-QUALITY AUDIT — per-file min/max ranges of a sort/
    * cluster column and how many OTHER files each range overlaps: the
    * data-skipping diagnostic behind every lakehouse OPTIMIZE/Z-ORDER
    * decision (parquet row-group pruning and Delta/Iceberg file skipping
    * read exactly these ranges; overlap degree ≈ how many files a point
    * predicate fails to prune). A perfectly range-clustered table
    * audits at 0 overlaps per file; a round-robin layout at n−1 —
    * [[graft.SkewSpec]] writes both layouts of the SAME rows and
    * asserts exactly those values.
    *
    * Scale shape: the stats pass is one map-combinable agg keyed by
    * `_metadata.file_path` (|files| output rows, no data shuffle
    * beyond it); the overlap join is |files|² on the STATS relation —
    * file counts, never rows. Rows-only like s6: `_metadata` has no
    * DuckDB analogue. */
  def clusteringAuditOf(df: DataFrame, valueCol: String): DataFrame = {
    val stats = df
      .select(col(valueCol).as("v"), col("_metadata.file_path").as("path"))
      .groupBy(col("path"))
      .agg(min(col("v")).as("min_v"), max(col("v")).as("max_v"),
        count(lit(1)).as("n_rows"))
      .withColumn("file_name",
        element_at(split(col("path"), "/"), -1))
    val other = stats.select(col("path").as("o_path"),
      col("min_v").as("o_min"), col("max_v").as("o_max"))
    stats.join(other,
        col("path") =!= col("o_path") &&
          col("min_v") <= col("o_max") && col("o_min") <= col("max_v"),
        "left")
      .groupBy(col("file_name"), col("min_v"), col("max_v"), col("n_rows"))
      .agg(count(col("o_path")).as("n_overlaps"))
      .select(col("file_name"), col("min_v"), col("max_v"), col("n_rows"),
        col("n_overlaps"))
      .orderBy(col("file_name"))
  }

  def clusteringAudit(spark: SparkSession, dir: String): DataFrame =
    clusteringAuditOf(
      spark.read.parquet(s"$dir/lineitem.parquet"), "l_shipdate")

  /** k5: PEARSON CORRELATION MATRIX over the fact table's numeric
    * columns (quantity, discount basis points, price cents) from ONE
    * scan — the feature-correlation pass a feature-engineering or
    * drift-monitoring pipeline runs, and the statistical upgrade of
    * k3's per-column profile. All sufficient statistics accumulate
    * EXACTLY (integers lifted to cents/basis points; wide products as
    * scale-0 decimals so Σ(price²) at any row count stays exact where
    * a BIGINT would wrap); the correlation is the a30 divide-early
    * double form — exact moments into one fixed IEEE sequence both
    * engines evaluate identically. Zero-variance columns yield NULL,
    * never 0/0. ONE map-side-combinable aggregate, one 1-row result
    * reshaped to |pairs| rows — corpus-sized work is the single scan.
    * (On this synthetic data the three columns are drawn independently
    * and the matrix correctly reads ≈ 0 across the board — the null
    * result is the calibration check.) */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val dec18 = org.apache.spark.sql.types.DecimalType(18, 0)
    // doubles go through DECIMAL before scaling (the a2/Tables parity
    // convention): double*100 then truncate would split one ulp apart
    // from DuckDB's rounding cast
    val base = Tables.lineitem(spark, dir).select(
      col("l_quantity").cast("long").as("q"),
      (col("l_discount").cast(org.apache.spark.sql.types.DecimalType(4, 2))
        * 100).cast("long").as("d"),
      (col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
        * 100).cast(dec18).as("p"))
    val m = base.agg(
      count(lit(1)).as("n"),
      sum(col("q")).as("sq"), sum(col("d")).as("sd"),
      sum(col("p")).as("sp"),
      sum(col("q") * col("q")).as("sqq"),
      sum(col("d") * col("d")).as("sdd"),
      sum(col("p") * col("p")).as("spp"),
      sum(col("q") * col("d")).as("sqd"),
      sum(col("q").cast(dec18) * col("p")).as("sqp"),
      sum(col("d").cast(dec18) * col("p")).as("sdp"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    def corrStruct(name: String, sx: String, sy: String, sxy: String,
                   sxx: String, syy: String) = {
      val varx = d(sxx) - d(sx) * d(sx) / nD
      val vary = d(syy) - d(sy) * d(sy) / nD
      val covxy = d(sxy) - d(sx) * d(sy) / nD
      struct(lit(name).as("pair"),
        when(varx === 0.0 || vary === 0.0, lit(null).cast("double"))
          .otherwise(covxy / sqrt(varx * vary)).as("corr"))
    }
    // reshape the ONE aggregate row to |pairs| rows with an explode —
    // a union of selects would re-plan (and re-scan) the agg per pair
    m.select(col("n"), explode(array(
        corrStruct("discount_price", "sd", "sp", "sdp", "sdd", "spp"),
        corrStruct("quantity_discount", "sq", "sd", "sqd", "sqq", "sdd"),
        corrStruct("quantity_price", "sq", "sp", "sqp", "sqq", "spp")))
        .as("c"))
      .select(col("c.pair").as("pair"), col("n"), col("c.corr").as("corr"))
      .orderBy("pair")
  }

  val corrMatrixSql: String = {
    val moments =
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(q) AS BIGINT) AS sq,
        |    CAST(SUM(d) AS BIGINT) AS sd,
        |    CAST(SUM(p) AS DECIMAL(38,0)) AS sp,
        |    CAST(SUM(q * q) AS BIGINT) AS sqq,
        |    CAST(SUM(d * d) AS BIGINT) AS sdd,
        |    CAST(SUM(p * p) AS DECIMAL(38,0)) AS spp,
        |    CAST(SUM(q * d) AS BIGINT) AS sqd,
        |    CAST(SUM(CAST(q AS DECIMAL(18,0)) * p) AS DECIMAL(38,0)) AS sqp,
        |    CAST(SUM(CAST(d AS DECIMAL(18,0)) * p) AS DECIMAL(38,0)) AS sdp
        |  FROM (SELECT CAST(l_quantity AS BIGINT) AS q,
        |          CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS d,
        |          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |            AS DECIMAL(18,0)) AS p
        |        FROM lineitem)""".stripMargin
    def row(name: String, sx: String, sy: String, sxy: String,
            sxx: String, syy: String) =
      s"""SELECT '$name' AS pair, n,
         |  CASE WHEN (CAST($sxx AS DOUBLE) - CAST($sx AS DOUBLE)
         |        * CAST($sx AS DOUBLE) / CAST(n AS DOUBLE)) = 0
         |    OR (CAST($syy AS DOUBLE) - CAST($sy AS DOUBLE)
         |        * CAST($sy AS DOUBLE) / CAST(n AS DOUBLE)) = 0
         |  THEN NULL
         |  ELSE (CAST($sxy AS DOUBLE) - CAST($sx AS DOUBLE)
         |        * CAST($sy AS DOUBLE) / CAST(n AS DOUBLE))
         |    / sqrt((CAST($sxx AS DOUBLE) - CAST($sx AS DOUBLE)
         |        * CAST($sx AS DOUBLE) / CAST(n AS DOUBLE))
         |      * (CAST($syy AS DOUBLE) - CAST($sy AS DOUBLE)
         |        * CAST($sy AS DOUBLE) / CAST(n AS DOUBLE)))
         |  END AS corr
         |FROM m""".stripMargin
    s"""WITH m AS ($moments)
       |SELECT * FROM (
       |${row("quantity_discount", "sq", "sd", "sqd", "sqq", "sdd")}
       |UNION ALL
       |${row("quantity_price", "sq", "sp", "sqp", "sqq", "spp")}
       |UNION ALL
       |${row("discount_price", "sd", "sp", "sdp", "sdd", "spp")})
       |ORDER BY pair""".stripMargin
  }

  // ---- k6: Z-order clustering audit --------------------------------------

  /** 16-bit Morton interleave of two 8-bit bucket columns as pure integer
    * arithmetic — bit i of `x` lands at z-bit 2i, bit i of `y` at 2i+1.
    * Generated as a 16-term sum so BOTH engines evaluate it exactly on
    * BIGINTs (`idiv` is `div` in Spark, `//` in DuckDB — the only dialect
    * difference). */
  private def mortonExpr(x: String, y: String, idiv: String): String =
    (0 until 8).flatMap { i =>
      Seq(s"(($x $idiv ${1L << i}) % 2) * ${1L << (2 * i)}",
        s"(($y $idiv ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
    }.mkString("(", " + ", ")")

  /** k6: Z-ORDER LAYOUT AUDIT — the quantified before/after of a lakehouse
    * OPTIMIZE ZORDER decision, computed WITHOUT writing any file: rows
    * are assigned to 32 synthetic files under three layouts — `zorder`
    * (Morton code of the two bucketed dims, fixed-width z ranges),
    * `linear_x` (range-clustered on dim x alone — the single-column sort
    * baseline), and `roundrobin` (ingest order, the unclustered
    * baseline) — and each layout is scored by the per-file min/max spans
    * that parquet row-group pruning / file skipping would actually see
    * (k4 measures the real files; k6 predicts the candidate layouts).
    * `scan_frac_milli` is the expected fraction (milli) of files a
    * uniform point predicate on that dim fails to prune: Z-ordering
    * buys ~sqrt-sized spans on BOTH dims where the linear sort buys a
    * perfect dim-x span and a useless dim-y one.
    *
    * Scale shape: file assignment is FIXED-WIDTH on the z / x value —
    * a pure map, no global sort, no window (an ntile layout would need a
    * single-partition window; fixed-width buckets are what a range
    * partitioner converges to on uniform keys anyway). One map-side
    * 3× stack fan-out, one (layout, file) agg — 96 groups — and a
    * 6-row rollup. All-integer. */
  def zorderAudit(spark: SparkSession, dir: String): DataFrame = {
    val z = mortonExpr("bx", "by", "div")
    val perFile = Tables.lineitem(spark, dir)
      .selectExpr("l_partkey % 256 AS bx", "l_suppkey % 256 AS by",
        "l_orderkey")
      .selectExpr("bx", "by",
        s"stack(3, 'zorder', $z div 2048, " +
          "'linear_x', bx div 8, " +
          "'roundrobin', l_orderkey % 32) AS (layout, file_id)")
      .groupBy(col("layout"), col("file_id"))
      .agg(min("bx").as("mn_x"), max("bx").as("mx_x"),
        min("by").as("mn_y"), max("by").as("mx_y"))
    perFile
      .selectExpr("layout",
        "stack(2, 'x', mx_x - mn_x + 1, 'y', mx_y - mn_y + 1) AS (dim, span)")
      .groupBy(col("layout"), col("dim"))
      .agg(count(lit(1)).as("n_files"),
        expr("sum(span) * 1000 div count(1)").as("avg_span_milli"),
        expr("sum(span) * 1000 div (count(1) * 256)").as("scan_frac_milli"))
      .orderBy("layout", "dim")
  }

  val zorderAuditSql: String = {
    val z = mortonExpr("bx", "by", "//")
    s"""WITH base AS (
       |  SELECT l_partkey % 256 AS bx, l_suppkey % 256 AS by, l_orderkey
       |  FROM lineitem),
       |assigned AS (
       |  SELECT 'zorder' AS layout, $z // 2048 AS file_id, bx, by FROM base
       |  UNION ALL
       |  SELECT 'linear_x', bx // 8, bx, by FROM base
       |  UNION ALL
       |  SELECT 'roundrobin', l_orderkey % 32, bx, by FROM base),
       |per_file AS (
       |  SELECT layout, file_id,
       |    MIN(bx) AS mn_x, MAX(bx) AS mx_x,
       |    MIN(by) AS mn_y, MAX(by) AS mx_y
       |  FROM assigned GROUP BY 1, 2),
       |spans AS (
       |  SELECT layout, 'x' AS dim, mx_x - mn_x + 1 AS span FROM per_file
       |  UNION ALL
       |  SELECT layout, 'y', mx_y - mn_y + 1 FROM per_file)
       |SELECT layout, dim,
       |  CAST(COUNT(*) AS BIGINT) AS n_files,
       |  CAST(SUM(span) * 1000 // COUNT(*) AS BIGINT) AS avg_span_milli,
       |  CAST(SUM(span) * 1000 // (COUNT(*) * 256) AS BIGINT) AS scan_frac_milli
       |FROM spans GROUP BY layout, dim ORDER BY layout, dim""".stripMargin
  }

  // ---- j8: skew-salted shuffle join --------------------------------------

  /** Number of salt replicas for [[saltedJoin]] — what k2's `salt_hint`
    * recommends for a heavy key; fixed here so the oracle is stable. */
  val saltBuckets = 8

  /** j8: SKEW-SALTED SHUFFLE JOIN — the manual remedy k2's skew profile
    * exists to parameterize, executed end-to-end: the build side (part)
    * is replicated once per salt bucket and the probe side (lineitem)
    * deterministically picks bucket `l_orderkey % saltBuckets`, so a hot
    * p_partkey's probe rows spread over `saltBuckets` reducers instead
    * of stalling one (the pre-AQE fix for the straggler stage AQE's
    * skew-join split discovers at runtime; with deterministic salt the
    * result is retry-stable, the p9/p10 rule). The join is pinned to a
    * SHUFFLE_HASH — a broadcast would make salting a no-op and hide the
    * demonstration, and at the scale this remedy matters the build side
    * no longer broadcasts. Result is EXACTLY the plain join's per-brand
    * revenue — salting is a physical rewrite, not a semantic one — so
    * the oracle is the unsalted SQL; [[PlanShapeSpec]] pins the
    * shuffled-join shape (no broadcast) and the exchange budget. */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val probe = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_extendedprice").cast(Tables.Money)
          .as("price_dec"),
        (col("l_orderkey") % saltBuckets).as("salt"))
    val build = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"))
      .withColumn("salt", explode(array((0 until saltBuckets).map(lit): _*)))
      .hint("shuffle_hash")
    probe.join(build,
        probe("l_partkey") === build("p_partkey") &&
          probe("salt") === build("salt"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("price_dec")).cast("double").as("revenue"))
      .orderBy(col("p_brand"))
  }

  val saltedJoinSql: String =
    """SELECT p_brand,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ---- k7: partition-size planner ----------------------------------------

  /** k7: PARTITION-SIZE PLANNER — per (lang, source) lake partition of
    * the documents table: estimated bytes (n_chars as the proxy the real
    * writer refines with sampled encoding ratios), the file count that
    * hits a `targetBytes` file size, the expected post-plan file size,
    * and the verdict — `split` (partition exceeds one target file),
    * `coalesce` (a small-file victim: under a quarter target, the
    * classic small-files problem), or `ok`. This is the advisory pass
    * behind every OPTIMIZE/compaction job at 100 TB: k4 audits what
    * files ARE, k6 predicts candidate layouts, k7 sizes what the writer
    * SHOULD emit — all three metadata-priced. Also carries the
    * within-partition doc-size skew (max/mean milli) because one
    * outlier mega-doc breaks an even file split the same way a hot key
    * breaks a join (k2's argument at the file layer).
    *
    * One map-combinable aggregate over documents; |partitions|-sized
    * output, integer arithmetic throughout. */
  def partitionPlanner(spark: SparkSession, dir: String,
                       targetBytes: Long = 65536L): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("est_bytes"),
        max(col("n_chars")).as("max_doc"))
      .select(col("lang"), col("source"), col("n_docs"), col("est_bytes"),
        expr(s"(est_bytes + $targetBytes - 1) div $targetBytes")
          .as("target_files"),
        expr(s"est_bytes div ((est_bytes + $targetBytes - 1) div $targetBytes)")
          .as("planned_file_bytes"),
        expr("max_doc * n_docs * 1000 div est_bytes").as("doc_skew_milli"),
        when(col("est_bytes") > targetBytes, "split")
          .when(col("est_bytes") * 4 < targetBytes, "coalesce")
          .otherwise("ok").as("advice"))
      .orderBy(col("lang"), col("source"))

  /** k8: JOIN-CARDINALITY PREDICTOR — the exact output size of an
    * equi-join computed WITHOUT running the join: |A ⋈ B| on key k is
    * Σ_k cnt_A(k)·cnt_B(k), so joining the two per-key COUNT relations
    * (distinct-key-sized, not row-sized) and summing the products
    * predicts the row-sized join's output exactly. This is the number a
    * cost-based optimizer estimates from NDV sketches (k3's n_distinct
    * feeds precisely this formula under uniformity); computing it exact
    * on the key-count silvers is how an engineer validates a plan's
    * estimate — or sizes shuffle/disk for a 100 TB join — before paying
    * for it. Carries both sides' row/key counts and the max per-key
    * product (the skew term that decides j8's salting). Two
    * map-combinable count aggs + a key-sized equi-join per audited join
    * — never the data-sized join itself. */
  def joinCardinality(spark: SparkSession, dir: String): DataFrame = {
    // the three lineitem-side key-count relations come from k9's ONE
    // stacked-scan silver instead of three separate fact scans
    val liCounts = fkLineitemCounts(spark, dir)
    def profile(name: String, ck: String,
                right: DataFrame, rk: String): DataFrame = {
      val a = liCounts.filter(col("key_col") === ck)
        .select(col("k"), col("ca"))
      val b = right.groupBy(col(rk).as("k")).agg(count(lit(1)).as("cb"))
      a.join(b, Seq("k"))
        .agg(count(lit(1)).as("n_shared_keys"),
          sum(col("ca") * col("cb")).as("predicted_rows"),
          max(col("ca") * col("cb")).as("max_key_product"))
        .select(lit(name).as("join_name"), col("n_shared_keys"),
          col("predicted_rows"), col("max_key_product"))
    }
    profile("lineitem_orders", "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey")
      .unionByName(profile("lineitem_part", "l_partkey",
        Tables.part(spark, dir), "p_partkey"))
      .unionByName(profile("lineitem_supplier", "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"))
      .orderBy(col("join_name"))
  }

  val joinCardinalitySql: String = {
    def one(name: String, lt: String, lk: String, rt: String, rk: String) =
      s"""SELECT '$name' AS join_name,
         |  CAST(COUNT(*) AS BIGINT) AS n_shared_keys,
         |  CAST(SUM(ca * cb) AS BIGINT) AS predicted_rows,
         |  CAST(MAX(ca * cb) AS BIGINT) AS max_key_product
         |FROM (SELECT $lk AS k, CAST(COUNT(*) AS BIGINT) AS ca
         |      FROM $lt GROUP BY 1) a
         |JOIN (SELECT $rk AS k, CAST(COUNT(*) AS BIGINT) AS cb
         |      FROM $rt GROUP BY 1) b USING (k)""".stripMargin
    s"""${one("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey")}
       |UNION ALL
       |${one("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey")}
       |UNION ALL
       |${one("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey")}
       |ORDER BY join_name""".stripMargin
  }

  /** k9: REFERENTIAL-INTEGRITY AUDIT over the warehouse's FK edges —
    * the data-quality gate a lake runs after every ingest batch (the
    * constraint a warehouse would DECLARE but a parquet lake can only
    * CHECK): per edge, child rows, NULL foreign keys (legal but worth
    * counting — they silently vanish from inner joins), orphan keys
    * (child key absent from the parent) and the rows they strand, and
    * an ok/violations verdict. Orphans are computed on the KEY-SIZED
    * per-key count relation (k8's silver), never a row-sized
    * anti-join: child keys aggregate map-side-combinably, the
    * anti-join against the parent's key projection moves distinct keys
    * only, and the small dimension parents broadcast. Six edges cover
    * the full lineitem→orders→customer→nation→region and
    * lineitem→{part,supplier} star. */
  /** One FK edge of [[fkIntegrity]] — public so specs can audit
    * constructed relations with injected orphans/nulls. */
  def fkEdge(name: String, child: DataFrame, ck: String,
             parent: DataFrame, pk: String): DataFrame =
    fkEdgeFromCounts(name,
      child.groupBy(col(ck).as("k")).agg(count(lit(1)).as("ca")),
      parent, pk)

  /** [[fkEdge]] over an already-built per-key count relation — lets a
    * multi-edge child (lineitem) contribute its three key-count
    * relations from ONE stacked scan instead of three. */
  private def fkEdgeFromCounts(name: String, counts: DataFrame,
                               parent: DataFrame, pk: String): DataFrame = {
    val nonNull = counts.filter(col("k").isNotNull)
    val orphans = nonNull.join(
        parent.select(col(pk).as("k")).distinct(), Seq("k"), "left_anti")
      .agg(count(lit(1)).as("orphan_keys"),
        coalesce(sum(col("ca")), lit(0L)).as("orphan_rows"))
    val base = counts.agg(
      sum(col("ca")).as("child_rows"),
      coalesce(sum(when(col("k").isNull, col("ca"))), lit(0L)).as("null_fk_rows"))
    base.crossJoin(orphans)
      .select(lit(name).as("edge_name"), col("child_rows"),
        col("null_fk_rows"), col("orphan_keys"), col("orphan_rows"),
        when(col("orphan_rows") === 0, "ok").otherwise("violations")
          .as("verdict"))
  }

  /** lineitem carries three FK columns: profile all three from ONE scan
    * (k2's stack fan-out — map-side, no extra shuffle volume, the
    * table's bytes read once instead of three times). Shared by k8/k9
    * (and sk10 through k8) as one memoized key-count silver. */
  private[analytics] def fkLineitemCounts(spark: SparkSession,
                                          dir: String): DataFrame =
    graft.model.Silver.memoize(spark, "fkLineitemCounts", dir) {
      fkLineitemCountsPlan(spark, dir)
    }

  /** The un-memoized builder plan of [[fkLineitemCounts]] (its scan
    * projection is pinned by PushdownSpec). */
  private[graft] def fkLineitemCountsPlan(spark: SparkSession,
                                          dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(expr("stack(3, 'l_orderkey', l_orderkey, " +
        "'l_partkey', l_partkey, 'l_suppkey', l_suppkey) AS (key_col, k)"))
      .groupBy(col("key_col"), col("k")).agg(count(lit(1)).as("ca"))

  def fkIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val liCounts = fkLineitemCounts(spark, dir)
    def liEdge(name: String, ck: String, parent: DataFrame, pk: String) =
      fkEdgeFromCounts(name,
        liCounts.filter(col("key_col") === ck).select(col("k"), col("ca")),
        parent, pk)
    Seq(
      fkEdge("customer_nation", Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey"),
      liEdge("lineitem_orders", "l_orderkey",
        Tables.orders(spark, dir), "o_orderkey"),
      liEdge("lineitem_part", "l_partkey",
        Tables.part(spark, dir), "p_partkey"),
      liEdge("lineitem_supplier", "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"),
      fkEdge("nation_region", Tables.nation(spark, dir), "n_regionkey",
        Tables.region(spark, dir), "r_regionkey"),
      fkEdge("orders_customer", Tables.orders(spark, dir), "o_custkey",
        Tables.customer(spark, dir), "c_custkey"))
      .reduce(_ unionByName _)
      .orderBy(col("edge_name"))
  }

  val fkIntegritySql: String = {
    def one(name: String, ct: String, ck: String, pt: String, pk: String) =
      s"""SELECT '$name' AS edge_name,
         |  CAST(SUM(ca) AS BIGINT) AS child_rows,
         |  CAST(COALESCE(SUM(CASE WHEN k IS NULL THEN ca END), 0) AS BIGINT)
         |    AS null_fk_rows,
         |  CAST(COALESCE(SUM(CASE WHEN orphan THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS orphan_keys,
         |  CAST(COALESCE(SUM(CASE WHEN orphan THEN ca END), 0) AS BIGINT)
         |    AS orphan_rows,
         |  CASE WHEN CAST(COALESCE(SUM(CASE WHEN orphan THEN ca END), 0) AS BIGINT) = 0
         |    THEN 'ok' ELSE 'violations' END AS verdict
         |FROM (
         |  SELECT k, ca,
         |    k IS NOT NULL AND k NOT IN (SELECT $pk FROM $pt) AS orphan
         |  FROM (SELECT $ck AS k, CAST(COUNT(*) AS BIGINT) AS ca
         |        FROM $ct GROUP BY 1))""".stripMargin
    Seq(
      one("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      one("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      one("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
      one("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      one("nation_region", "nation", "n_regionkey", "region", "r_regionkey"),
      one("orders_customer", "orders", "o_custkey", "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY edge_name")
  }

  def partitionPlannerSql(targetBytes: Long = 65536L): String =
    s"""WITH p AS (
       |  SELECT lang, source,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS est_bytes,
       |    CAST(MAX(n_chars) AS BIGINT) AS max_doc
       |  FROM documents GROUP BY 1, 2)
       |SELECT lang, source, n_docs, est_bytes,
       |  (est_bytes + $targetBytes - 1) // $targetBytes AS target_files,
       |  est_bytes // ((est_bytes + $targetBytes - 1) // $targetBytes) AS planned_file_bytes,
       |  max_doc * n_docs * 1000 // est_bytes AS doc_skew_milli,
       |  CASE WHEN est_bytes > $targetBytes THEN 'split'
       |    WHEN est_bytes * 4 < $targetBytes THEN 'coalesce'
       |    ELSE 'ok' END AS advice
       |FROM p ORDER BY lang, source""".stripMargin

  /** k10: SAMPLE-BASED ESTIMATE CALIBRATION — approximate query
    * processing's honesty check: run the per-store rows/revenue
    * profile on a deterministic 1-in-20 ORDER-level hash sample
    * ((l_orderkey·48271 + 11) mod P < P div 20 — the multiplier must
    * WRAP the keyspace many times (48271 = MINSTD); a small multiplier
    * leaves dense low key ranges un-mixed and the "5%" predicate
    * becomes a key-range filter — sampling whole orders,
    * not lines, keeps intra-order correlation out of the variance the
    * way cluster sampling theory says a line-fact AQP must), scale up
    * by the exact inverse inclusion ratio (·P div T, integer), and
    * report the per-store relative error against the exact profile.
    * This is the table that tells an engineer whether the 5% sample
    * tier of a 100 TB lake is usable for which store sizes — error
    * concentrates exactly where theory predicts (small stores, few
    * sampled orders).
    *
    * Shape: the sample predicate is a pushable scan filter (no join —
    * the key arithmetic rides the scan), both branches are one
    * map-side-combinable store agg, and the compare joins on
    * |stores|. The same pattern at scale materializes the sample as
    * its own parquet tier and reuses it across every AQP query.
    * Revenue stays in integer cents through the scale-up (cents·P
    * ≈ 10¹⁵ at sf0.1 — exact in 64-bit; a 100 TB deployment divides
    * before multiplying or moves to DECIMAL(38)). */
  def sampleCalibration(spark: SparkSession, dir: String): DataFrame = {
    val P = 1000003L
    val T = P / 20L
    val sales = Tables.sales(spark, dir)
      .select(col("store_id"), col("l_orderkey"),
        (col("line_total") * 100).cast("long").as("cents"))
    val exact = sales.groupBy(col("store_id"))
      .agg(count(lit(1)).as("exact_rows"), sum(col("cents")).as("exact_cents"))
    val est = sales
      .filter((col("l_orderkey") * lit(48271L) + lit(11L)) % P < T)
      .groupBy(col("store_id"))
      .agg(expr(s"cast(count(1) * ${P}L div ${T}L as bigint)").as("est_rows"),
        expr(s"cast(sum(cents) * ${P}L div ${T}L as bigint)").as("est_cents"))
    exact.join(est, Seq("store_id"), "left")
      .select(col("store_id"),
        col("exact_rows"),
        coalesce(col("est_rows"), lit(0L)).as("est_rows"),
        col("exact_cents").cast("long").as("exact_cents"),
        coalesce(col("est_cents"), lit(0L)).as("est_cents"))
      .withColumn("row_err_milli",
        expr("abs(est_rows - exact_rows) * 1000 div exact_rows"))
      .withColumn("rev_err_milli",
        expr("abs(est_cents - exact_cents) * 1000 div exact_cents"))
      .orderBy(col("store_id"))
  }

  val sampleCalibrationSql: String = {
    val P = 1000003L
    val T = P / 20L
    s"""WITH sales AS (
       |  SELECT printf('%04d', l_suppkey) AS store_id, l_orderkey,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS cents
       |  FROM lineitem),
       |exact AS (
       |  SELECT store_id, CAST(COUNT(*) AS BIGINT) AS exact_rows,
       |    CAST(SUM(cents) AS BIGINT) AS exact_cents
       |  FROM sales GROUP BY 1),
       |est AS (
       |  SELECT store_id,
       |    CAST(COUNT(*) * $P // $T AS BIGINT) AS est_rows,
       |    CAST(SUM(cents) * $P // $T AS BIGINT) AS est_cents
       |  FROM sales WHERE (l_orderkey * 48271 + 11) % $P < $T
       |  GROUP BY 1)
       |SELECT x.store_id, x.exact_rows,
       |  COALESCE(e.est_rows, 0) AS est_rows,
       |  x.exact_cents,
       |  COALESCE(e.est_cents, 0) AS est_cents,
       |  ABS(COALESCE(e.est_rows, 0) - x.exact_rows) * 1000 // x.exact_rows
       |    AS row_err_milli,
       |  ABS(COALESCE(e.est_cents, 0) - x.exact_cents) * 1000
       |    // x.exact_cents AS rev_err_milli
       |FROM exact x LEFT JOIN est e USING (store_id)
       |ORDER BY x.store_id""".stripMargin
  }

  /** k11: FUZZY DIMENSION DEDUP — blocked edit-distance pairs over the
    * part catalog: near-identical product names inside one (brand,
    * size) shelf are the master-data duplicates an entity-resolution
    * pass flags before they pollute joins. The BLOCKING is the whole
    * operator: `levenshtein` is a quadratic per-pair cost, so
    * candidates form inside (p_brand, p_size) equi-join cells only —
    * one co-keyed hash join, never all-pairs (the same
    * block-then-filter posture as d8's byte bands and d4's shingle
    * index; at 100 TB the cell key widens with more attributes or a
    * q-gram index replaces it). `part_a < part_b` halves the cell and
    * kills self-pairs; the distance rides Spark's codegen'd
    * `levenshtein` (same unit-cost edit distance DuckDB implements,
    * so the key is hash-checked). May legitimately be empty at tiny
    * SF (sparse shelves). */
  def fuzzyPartNames(spark: SparkSession, dir: String,
                     maxDist: Int = 3): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_brand"), col("p_size"), col("p_partkey"), col("p_name"))
    val a = p.select(col("p_brand"), col("p_size"),
      col("p_partkey").as("part_a"), col("p_name").as("name_a"))
    val b = p.select(col("p_brand"), col("p_size"),
      col("p_partkey").as("part_b"), col("p_name").as("name_b"))
    a.join(b, Seq("p_brand", "p_size"))
      .filter(col("part_a") < col("part_b"))
      // BOUNDED edit distance: the threshold form computes the banded
      // O(len·maxDist) DP and returns -1 above maxDist, so `>= 0` is
      // exactly the old `<= maxDist` filter and surviving rows carry the
      // identical exact distance (guide §1.2 step 2; the oracle keeps
      // DuckDB's plain levenshtein)
      .withColumn("distance",
        levenshtein(col("name_a"), col("name_b"), maxDist).cast("long"))
      .filter(col("distance") >= 0L)
      .select(col("p_brand").as("brand"),
        col("p_size").cast("long").as("size"),
        col("part_a"), col("part_b"),
        col("name_a"), col("name_b"), col("distance"))
      .orderBy(col("brand"), col("size"), col("part_a"), col("part_b"))
  }

  /** k12: Q-GRAM INDEX CANDIDATE EVAL — the scale path k11's scaladoc
    * points at, MEASURED the way d7/d21 measure LSH: an inverted
    * character-3-gram index (df-capped at a FRACTION of the catalog,
    * d15's rule — this synthetic vocabulary is template-heavy, so an
    * absolute cap kills the discriminative grams) generates candidate
    * pairs with no cell blocking at all, and each cap level reports
    * candidates, hits against k11's edit-distance truth, and recall —
    * the operating curve that says what a 3-gram index actually buys
    * on THIS name distribution before anyone swaps it in at 100 TB.
    * (Short names can shed all their grams under edits, so q-gram
    * blocking is a recall trade by construction — hence an eval key,
    * not a replacement.) Shape: gram explode + df agg + per-level
    * posting self-join, all keyed on the gram hash; counts only,
    * never a DP on the candidate set. */
  def fuzzyQgramEval(spark: SparkSession, dir: String,
                     maxDist: Int = 3,
                     dfPcts: Seq[Int] = Seq(2, 5, 10)): DataFrame = {
    // the cap levels NEST (kept_2 ⊆ kept_5 ⊆ kept_10), so the whole
    // sweep runs in ONE posting self-join at the widest cap: each gram
    // gets the smallest level it qualifies for, each pair keeps the MIN
    // tier over its shared grams, and every level's counts fall out of
    // one conditional aggregate — a per-level formulation re-ran the
    // join and the distinct |levels| times
    val tiers = dfPcts.sorted.map(_.toLong)
    // the eval runs on a fixed BRAND SLICE: recall/candidate ratios are
    // distribution properties (identical across slices of this uniform
    // catalog), and an all-catalog posting self-join materializes tens
    // of millions of pairs to answer a 3-row curve — the d7-style eval
    // measures the operating point on a sample and says so
    val p = Tables.part(spark, dir)
      .filter(col("p_brand").isin(evalBrands: _*))
      .select(col("p_partkey"), col("p_name"))
    val nParts = p.agg(count(lit(1)).as("n_parts"))
    val grams = p.select(col("p_partkey"),
        explode(when(length(col("p_name")) >= 3,
          expr("transform(sequence(1, length(p_name) - 2)," +
            " i -> substring(p_name, i, 3))"))
          .otherwise(array().cast("array<string>"))).as("gram"))
      .distinct()
    val dfc = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val tierCase = tiers.tail.foldLeft(
      when(col("df") * 100 <= lit(tiers.head) * col("n_parts"),
        lit(tiers.head))) { (acc, t) =>
      acc.when(col("df") * 100 <= lit(t) * col("n_parts"), lit(t))
    }
    val kept = grams.join(dfc, "gram").crossJoin(broadcast(nParts))
      .withColumn("tier", tierCase)
      .filter(col("tier").isNotNull)
      .select(col("gram"), col("p_partkey"), col("tier"))
    val pairs = kept.select(col("gram"), col("p_partkey").as("pa"),
        col("tier").as("ta"))
      .join(kept.select(col("gram"), col("p_partkey").as("pb"),
        col("tier").as("tb")), Seq("gram"))
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(min(greatest(col("ta"), col("tb"))).as("lvl"))
    val truth = fuzzyPartNames(spark, dir, maxDist)
      .filter(col("brand").isin(evalBrands: _*))
      .select(col("part_a"), col("part_b"))
    val hitPairs = pairs.join(truth,
      pairs("pa") === truth("part_a") && pairs("pb") === truth("part_b"),
      "left_semi")
    def counts(df: DataFrame, as: String) = df.agg(
      tiers.map(t => sum(when(col("lvl") <= t, 1L).otherwise(0L))
        .as(s"${as}_$t")).head,
      tiers.map(t => sum(when(col("lvl") <= t, 1L).otherwise(0L))
        .as(s"${as}_$t")).tail: _*)
    val stacked = counts(pairs, "c").crossJoin(counts(hitPairs, "h"))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("n_truth"), expr(
        s"stack(${tiers.size}, " + tiers.map(t =>
          s"CAST($t AS BIGINT), c_$t, h_$t").mkString(", ") +
          ") AS (df_cap_pct, n_candidates, n_hits)"))
      .select(col("df_cap_pct"), col("n_truth"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    stacked
      .withColumn("recall_milli",
        when(col("n_truth") === 0L, lit(null).cast("long"))
          .otherwise(expr("n_hits * 1000 div n_truth")))
      .orderBy(col("df_cap_pct"))
  }

  /** The fixed evaluation slice (three of the 25 brands). */
  private val evalBrands = Seq("Brand#11", "Brand#22", "Brand#33")

  def fuzzyQgramEvalSql(maxDist: Int = 3,
                        dfPcts: Seq[Int] = Seq(2, 5, 10)): String = {
    val brandsIn = evalBrands.map(b => s"'$b'").mkString(", ")
    val levels = dfPcts.map { pct =>
      s"""(SELECT CAST($pct AS BIGINT) AS df_cap_pct,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
         |  CAST((SELECT COUNT(*) FROM cand_$pct) AS BIGINT) AS n_candidates,
         |  CAST((SELECT COUNT(*) FROM cand_$pct c
         |        JOIN truth t ON c.pa = t.pa AND c.pb = t.pb)
         |    AS BIGINT) AS n_hits)""".stripMargin
    }
    val candCtes = dfPcts.map { pct =>
      s"""kept_$pct AS (
         |  SELECT g.p_partkey, g.gram FROM g JOIN dfc USING (gram)
         |  CROSS JOIN n WHERE df * 100 <= $pct * n_parts),
         |cand_$pct AS (
         |  SELECT DISTINCT a.p_partkey AS pa, b.p_partkey AS pb
         |  FROM kept_$pct a JOIN kept_$pct b
         |    ON a.gram = b.gram AND a.p_partkey < b.p_partkey)""".stripMargin
    }
    s"""WITH p AS (SELECT p_partkey, p_brand, p_size, p_name FROM part
       |  WHERE p_brand IN ($brandsIn)),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_parts FROM p),
       |g0 AS (
       |  SELECT p_partkey, substr(p_name, CAST(i AS INTEGER), 3) AS gram
       |  FROM p, unnest(generate_series(1, length(p_name) - 2)) AS t(i)),
       |g AS (SELECT DISTINCT p_partkey, gram FROM g0),
       |dfc AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM g GROUP BY 1),
       |truth AS (
       |  SELECT a.p_partkey AS pa, b.p_partkey AS pb
       |  FROM p a JOIN p b ON a.p_brand = b.p_brand
       |    AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey
       |  WHERE levenshtein(a.p_name, b.p_name) <= $maxDist),
       |${candCtes.mkString(",\n")}
       |SELECT df_cap_pct, n_truth, n_candidates, n_hits,
       |  CASE WHEN n_truth = 0 THEN NULL
       |    ELSE n_hits * 1000 // n_truth END AS recall_milli
       |FROM (${levels.mkString("\nUNION ALL\n")})
       |ORDER BY df_cap_pct""".stripMargin
  }

  def fuzzyPartNamesSql(maxDist: Int = 3): String =
    s"""SELECT a.p_brand AS brand,
       |  CAST(a.p_size AS BIGINT) AS size,
       |  a.p_partkey AS part_a, b.p_partkey AS part_b,
       |  a.p_name AS name_a, b.p_name AS name_b,
       |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS distance
       |FROM part a
       |JOIN part b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       |  AND a.p_partkey < b.p_partkey
       |WHERE levenshtein(a.p_name, b.p_name) <= $maxDist
       |ORDER BY brand, size, part_a, part_b""".stripMargin

  /** k22: BATCH-OVER-BATCH PROFILE DRIFT AUDIT — the monitoring pass a
    * lake runs when a new month of data lands (the Deequ/whylogs
    * "profile diff" class, complementing k18's threshold rubric and
    * e19's distribution drift): the two most recent calendar months of
    * the sales lake are profiled column-by-column and DIFFED. Per
    * audited column: row/null/distinct counts in each batch, min/max,
    * exact integer means (milli), the signed mean shift in per-mille
    * of the old mean (sign-explicit division, both engines truncate
    * toward zero), NEW values (in the new batch, never seen in the
    * old — the category-drift signal that breaks enum contracts
    * downstream) and GONE values, plus three integer verdict flags:
    * range_drift (new batch escapes the old min/max envelope),
    * novelty_drift (new values appeared), mean_drift (|shift| >
    * [[MeanDriftPm]] per-mille). The month anchors are picked by
    * string order (largest / second-largest distinct 'yyyy-MM'), so
    * there is no interval arithmetic to diverge between engines.
    *
    * Scale shape: ONE scan of the two-month slice stack()s the five
    * audited columns map-side (long-encoded — the categorical flag by
    * ascii code — so the melted relation is narrow); all batch stats
    * ride one (col, batch) aggregate, distinct/new/gone ride one
    * value-grain aggregate (the only data-sized exchange, ~5×distinct
    * values); the final diff is a 5-row join. At 100 TB the month
    * predicate is the partition prune — the audit never touches the
    * lake's history beyond the two batches it compares. */
  def profileDrift(spark: SparkSession, dir: String): DataFrame = {
    // RAW columns end to end (guide §2.3 — the sk13/k17 discipline):
    // the month key is year*100+month (order-isomorphic to the
    // 'yyyy-MM' substring, so the two anchor batches are identical),
    // store is l_suppkey directly (= CAST(printf('%04d')) back), and
    // no output column ever needs the formatted strings — the old
    // shape built two strings per fact row just to pick two months
    val s = Tables.lineitem(spark, dir).select(
      (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("m"),
      col("l_quantity").cast("long").as("quantity"),
      (col("l_extendedprice").cast(Tables.Money) * 100).cast("long")
        .as("cents"),
      col("l_partkey").as("sku"),
      col("l_suppkey").cast("long").as("store"),
      ascii(col("l_returnflag")).cast("long").as("rflag"))
    val months = s.select(col("m")).distinct()
    val mb = months.agg(max(col("m")).as("mb"))
    val ma = months.crossJoin(broadcast(mb)).filter(col("m") < col("mb"))
      .agg(max(col("m")).as("ma"))
    val mm = mb.crossJoin(ma)
    val melted = s.crossJoin(broadcast(mm))
      .filter(col("m") === col("ma") || col("m") === col("mb"))
      .withColumn("batch",
        when(col("m") === col("mb"), lit("b")).otherwise(lit("a")))
      .selectExpr("batch",
        "stack(5, 'quantity', quantity, 'cents', cents, 'sku', sku, " +
          "'store', store, 'returnflag', rflag) AS (col_name, v)")
    // ONE data-sized exchange: the (col, batch, value) grain — every
    // downstream stat (counts, null counts, min/max, sums, distincts,
    // new/gone) derives from it, so the two-month slice shuffles once
    val valGrain = graft.model.Silver.memoize(spark, "profileDriftValGrain", dir) {
      melted.groupBy(col("col_name"), col("batch"), col("v"))
        .agg(count(lit(1)).as("cnt"))
    }
    val stats = valGrain.groupBy(col("col_name"), col("batch"))
      .agg(sum(col("cnt")).as("n"),
        coalesce(sum(when(col("v").isNull, col("cnt"))), lit(0L)).as("nn"),
        min(col("v")).as("mn"), max(col("v")).as("mx"),
        sum(col("v").cast("decimal(38,0)") * col("cnt"))
          .cast("decimal(38,0)").as("sv"))
      .groupBy(col("col_name"))
      .agg(
        max(when(col("batch") === "a", col("n"))).as("n_a"),
        max(when(col("batch") === "b", col("n"))).as("n_b"),
        max(when(col("batch") === "a", col("nn"))).as("null_a"),
        max(when(col("batch") === "b", col("nn"))).as("null_b"),
        max(when(col("batch") === "a", col("mn"))).as("min_a"),
        max(when(col("batch") === "a", col("mx"))).as("max_a"),
        max(when(col("batch") === "b", col("mn"))).as("min_b"),
        max(when(col("batch") === "b", col("mx"))).as("max_b"),
        max(when(col("batch") === "a", col("sv"))).as("sv_a"),
        max(when(col("batch") === "b", col("sv"))).as("sv_b"))
      .select(col("col_name"), col("n_a"), col("n_b"), col("null_a"),
        col("null_b"), col("min_a"), col("max_a"), col("min_b"), col("max_b"),
        expr("CAST(sv_a * 1000 DIV n_a AS BIGINT)").as("mean_a_milli"),
        expr("CAST(sv_b * 1000 DIV n_b AS BIGINT)").as("mean_b_milli"))
    val vals = valGrain.groupBy(col("col_name"), col("v"))
      .agg(max(when(col("batch") === "a", 1L).otherwise(0L)).as("in_a"),
        max(when(col("batch") === "b", 1L).otherwise(0L)).as("in_b"))
      .groupBy(col("col_name"))
      .agg(sum(col("in_a")).as("distinct_a"), sum(col("in_b")).as("distinct_b"),
        sum(when(col("in_b") === 1L && col("in_a") === 0L, 1L).otherwise(0L))
          .as("new_values"),
        sum(when(col("in_a") === 1L && col("in_b") === 0L, 1L).otherwise(0L))
          .as("gone_values"))
    stats.join(vals, Seq("col_name"))
      .select(col("col_name"), col("n_a"), col("n_b"), col("null_a"),
        col("null_b"), col("distinct_a"), col("distinct_b"),
        col("min_a"), col("max_a"), col("min_b"), col("max_b"),
        col("mean_a_milli"), col("mean_b_milli"),
        expr("CASE WHEN mean_a_milli = 0 THEN NULL ELSE " +
          "(CASE WHEN mean_b_milli < mean_a_milli THEN -1 ELSE 1 END) * " +
          "(abs(mean_b_milli - mean_a_milli) * 1000 DIV abs(mean_a_milli)) " +
          "END").as("mean_shift_pm"),
        expr("CASE WHEN min_b < min_a OR max_b > max_a THEN 1 ELSE 0 END")
          .cast("long").as("range_drift"),
        expr("CASE WHEN new_values > 0 THEN 1 ELSE 0 END").cast("long")
          .as("novelty_drift"),
        expr(s"CASE WHEN mean_a_milli != 0 AND abs((CASE WHEN mean_b_milli" +
          s" < mean_a_milli THEN -1 ELSE 1 END) * (abs(mean_b_milli - " +
          s"mean_a_milli) * 1000 DIV abs(mean_a_milli))) > $MeanDriftPm " +
          s"THEN 1 ELSE 0 END").cast("long").as("mean_drift"),
        col("new_values"), col("gone_values"))
      .orderBy(col("col_name"))
  }

  /** Mean-shift per-mille threshold for k22's mean_drift verdict. */
  private val MeanDriftPm = 100L

  def profileDriftSql(): String =
    s"""WITH s AS (
       |  SELECT substr(sale_date, 1, 7) AS m, quantity,
       |    CAST(line_total * 100 AS BIGINT) AS cents, sku,
       |    CAST(store_id AS BIGINT) AS store,
       |    CAST(ascii(l_returnflag) AS BIGINT) AS rflag
       |  FROM (${Tables.salesSql}) q),
       |mm AS (
       |  SELECT (SELECT MAX(m) FROM s) AS mb,
       |    (SELECT MAX(m) FROM s WHERE m < (SELECT MAX(m) FROM s)) AS ma),
       |two AS (
       |  SELECT CASE WHEN m = mb THEN 'b' ELSE 'a' END AS batch, s.*
       |  FROM s CROSS JOIN mm WHERE m = ma OR m = mb),
       |melted AS (
       |  SELECT batch, 'quantity' AS col_name, quantity AS v FROM two
       |  UNION ALL SELECT batch, 'cents', cents FROM two
       |  UNION ALL SELECT batch, 'sku', sku FROM two
       |  UNION ALL SELECT batch, 'store', store FROM two
       |  UNION ALL SELECT batch, 'returnflag', rflag FROM two),
       |stats AS (
       |  SELECT col_name,
       |    MAX(CASE WHEN batch = 'a' THEN n END) AS n_a,
       |    MAX(CASE WHEN batch = 'b' THEN n END) AS n_b,
       |    MAX(CASE WHEN batch = 'a' THEN nn END) AS null_a,
       |    MAX(CASE WHEN batch = 'b' THEN nn END) AS null_b,
       |    MAX(CASE WHEN batch = 'a' THEN mn END) AS min_a,
       |    MAX(CASE WHEN batch = 'a' THEN mx END) AS max_a,
       |    MAX(CASE WHEN batch = 'b' THEN mn END) AS min_b,
       |    MAX(CASE WHEN batch = 'b' THEN mx END) AS max_b,
       |    MAX(CASE WHEN batch = 'a' THEN sv END) * 1000
       |      // MAX(CASE WHEN batch = 'a' THEN n END) AS mean_a_milli,
       |    MAX(CASE WHEN batch = 'b' THEN sv END) * 1000
       |      // MAX(CASE WHEN batch = 'b' THEN n END) AS mean_b_milli
       |  FROM (
       |    SELECT col_name, batch, CAST(COUNT(*) AS BIGINT) AS n,
       |      CAST(COUNT(*) - COUNT(v) AS BIGINT) AS nn,
       |      CAST(MIN(v) AS BIGINT) AS mn, CAST(MAX(v) AS BIGINT) AS mx,
       |      CAST(SUM(v) AS HUGEINT) AS sv
       |    FROM melted GROUP BY 1, 2) q
       |  GROUP BY col_name),
       |vals AS (
       |  SELECT col_name,
       |    CAST(SUM(in_a) AS BIGINT) AS distinct_a,
       |    CAST(SUM(in_b) AS BIGINT) AS distinct_b,
       |    CAST(SUM(CASE WHEN in_b = 1 AND in_a = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS new_values,
       |    CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS gone_values
       |  FROM (
       |    SELECT col_name, v,
       |      MAX(CASE WHEN batch = 'a' THEN 1 ELSE 0 END) AS in_a,
       |      MAX(CASE WHEN batch = 'b' THEN 1 ELSE 0 END) AS in_b
       |    FROM melted GROUP BY 1, 2) q
       |  GROUP BY col_name)
       |SELECT s.col_name, n_a, n_b, null_a, null_b, distinct_a, distinct_b,
       |  min_a, max_a, min_b, max_b,
       |  CAST(mean_a_milli AS BIGINT) AS mean_a_milli,
       |  CAST(mean_b_milli AS BIGINT) AS mean_b_milli,
       |  CAST(CASE WHEN mean_a_milli = 0 THEN NULL ELSE
       |    (CASE WHEN mean_b_milli < mean_a_milli THEN -1 ELSE 1 END) *
       |    (abs(mean_b_milli - mean_a_milli) * 1000 // abs(mean_a_milli))
       |    END AS BIGINT) AS mean_shift_pm,
       |  CAST(CASE WHEN min_b < min_a OR max_b > max_a THEN 1 ELSE 0 END
       |    AS BIGINT) AS range_drift,
       |  CAST(CASE WHEN new_values > 0 THEN 1 ELSE 0 END AS BIGINT)
       |    AS novelty_drift,
       |  CAST(CASE WHEN mean_a_milli != 0 AND abs(
       |    (CASE WHEN mean_b_milli < mean_a_milli THEN -1 ELSE 1 END) *
       |    (abs(mean_b_milli - mean_a_milli) * 1000 // abs(mean_a_milli)))
       |    > $MeanDriftPm THEN 1 ELSE 0 END AS BIGINT) AS mean_drift,
       |  new_values, gone_values
       |FROM stats s JOIN vals USING (col_name)
       |ORDER BY s.col_name""".stripMargin
}
