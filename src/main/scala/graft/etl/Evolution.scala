package graft.etl

import graft.model.{Silver, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k27: SCHEMA EVOLUTION audit — materialize a two-generation lake whose
  * writer schema CHANGED between generations (the lifecycle event every
  * long-lived lake hits: a column added, a column retired), read it back
  * through parquet schema merging, and emit the MEASURED per-generation
  * column coverage. The reference pins its upload schema with jsonschema
  * validation (backend/functions/process-upload/upload-schema.json:5-69)
  * and quarantines mismatches — this operator is the other half of that
  * lifecycle: what a reader must do once two valid-but-different writer
  * generations coexist in one lake.
  *
  * Generation v1 (first half of the maintenance month) carries
  * `payment_method` but predates `discount_amount`; generation v2
  * (second half) added `discount_amount` and retired `payment_method`.
  * The merged read resolves the union schema and null-fills absent
  * columns; the relation is the measured (gen, column, n_rows,
  * n_nonnull, coverage_milli) audit a data contract monitor alerts on.
  * The ORACLE predicts the same relation from the fact table and the
  * declared generation schemas, so a hash match certifies that parquet
  * schema merging null-filled EXACTLY the declared column-generation
  * matrix — no value bleed, no dropped rows.
  *
  * Scale posture: mergeSchema's footer reconciliation is a driver
  * metadata pass (per-file footers, no data read); at 100 TB the same
  * audit runs as this one aggregation over the merged scan — one hash
  * exchange on the generation key, count/nonnull counts fold map-side.
  * The slice is [[LakeApply]]'s bounded month x store cohort, so the
  * materialize-read-measure loop costs the same at every SF. */
object Evolution {

  /** Last day of generation v1 (v2 starts the day after). */
  val SplitDate = "1998-06-15"

  private val V1Cols =
    Seq("store_id", "sale_date", "sku", "quantity", "line_total",
      "payment_method")
  private val V2Cols =
    Seq("store_id", "sale_date", "sku", "quantity", "line_total",
      "discount_amount")

  private def slice(spark: SparkSession, dir: String): DataFrame =
    Tables.salesWithPaymentInRange(spark, dir, "1998-06-01", "1998-06-30")
      .filter(pmod(col("store_id").cast("long"),
        lit(LakeApply.StoreMod)) === 0L &&
        col("store_id") <= LakeApply.StoreMax)

  def schemaEvolution(spark: SparkSession, dir: String): DataFrame =
    Silver.memoize(spark, "k27SchemaEvolution", dir) {
      val merged = spark.read.option("mergeSchema", "true").parquet(k27Lake(spark, dir))
      val dataCols = merged.schema.fieldNames.filterNot(_ == "gen").sorted
      val nn = dataCols.map(c =>
        sum(when(col(c).isNotNull, 1L).otherwise(0L)).as(s"nn_$c"))
      val agg = merged.groupBy(col("gen").cast("string").as("gen"))
        .agg(count(lit(1)).as("n_rows"), nn: _*)
      val stackExpr = s"stack(${dataCols.length}, " +
        dataCols.map(c => s"'$c', nn_$c").mkString(", ") +
        ") AS (column_name, n_nonnull)"
      agg.select(col("gen"), col("n_rows"), expr(stackExpr))
        .select(col("gen"), col("column_name"), col("n_rows"),
          col("n_nonnull"),
          expr("n_nonnull * 1000 DIV n_rows").as("coverage_milli"))
        .orderBy(col("gen"), col("column_name"))
    }

  /** k27's lake: the slice written as generation v1 (up to
    * [[SplitDate]]) and v2 (after it), each with its own columns;
    * returns its root. */
  private[graft] def k27Lake(spark: SparkSession, dir: String): String =
    Silver.once(spark, "k27Lake", dir) {
      val lakeDir = Scratch.tempDir("k27-lake")
      val sl = slice(spark, dir).persist()
      try {
        sl.filter(col("sale_date") <= SplitDate)
          .select(V1Cols.map(col): _*)
          .write.mode("overwrite").parquet(s"$lakeDir/gen=v1")
        sl.filter(col("sale_date") > SplitDate)
          .select(V2Cols.map(col): _*)
          .write.mode("overwrite").parquet(s"$lakeDir/gen=v2")
      } finally sl.unpersist()
      lakeDir
    }

  /** The oracle predicts the audit from the fact table + the declared
    * column-generation matrix (all slice columns are non-null in the
    * data, so presence == full coverage, absence == zero). */
  def schemaEvolutionSql(): String =
    s"""WITH sl AS (
       |  SELECT *, CASE WHEN sale_date <= '$SplitDate' THEN 'v1'
       |            ELSE 'v2' END AS gen
       |  FROM (${Tables.salesWithPaymentSql})
       |  WHERE substring(sale_date, 1, 7) = '${LakeApply.Month}'
       |    AND CAST(store_id AS BIGINT) % ${LakeApply.StoreMod} = 0
       |    AND store_id <= '${LakeApply.StoreMax}'),
       |counts AS (
       |  SELECT gen, CAST(COUNT(*) AS BIGINT) AS n_rows
       |  FROM sl GROUP BY gen),
       |cols(column_name, in_v1, in_v2) AS (
       |  VALUES ('discount_amount', 0, 1), ('line_total', 1, 1),
       |         ('payment_method', 1, 0), ('quantity', 1, 1),
       |         ('sale_date', 1, 1), ('sku', 1, 1), ('store_id', 1, 1))
       |SELECT c.gen, k.column_name, c.n_rows,
       |  CAST(CASE WHEN (c.gen = 'v1' AND k.in_v1 = 1)
       |         OR (c.gen = 'v2' AND k.in_v2 = 1)
       |       THEN c.n_rows ELSE 0 END AS BIGINT) AS n_nonnull,
       |  CAST(CASE WHEN (c.gen = 'v1' AND k.in_v1 = 1)
       |         OR (c.gen = 'v2' AND k.in_v2 = 1)
       |       THEN 1000 ELSE 0 END AS BIGINT) AS coverage_milli
       |FROM counts c CROSS JOIN cols k
       |ORDER BY gen, column_name""".stripMargin
}
