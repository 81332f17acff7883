package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Typed form of one validated, normalized upload line — the
  * `Dataset[T]` edge for callers that want compile-time schema safety
  * (SURVEY.md §1.3: typed at the ingest edge, untyped DataFrame +
  * `functions._` for aggregates). */
case class SalesRecord(
    transaction_id: String,
    transaction_timestamp: java.sql.Timestamp,
    item_sku: String,
    item_name: String,
    quantity: Int,
    unit_price: BigDecimal,
    line_total: BigDecimal,
    discount_amount: BigDecimal,
    payment_method: String,
    customer_id: String,
    store_id: String)

/** S1–S7: the write path — JSON array upload files → validated, typed,
  * Hive-partitioned parquet lake + quarantine, and the NDJSON BI export
  * (reference: backend/functions/process-upload/process_upload.py:28-206,
  * export-to-quicksight/lambda_function.py:332-388).
  *
  * Spark-first shape: schema-on-read with PERMISSIVE corrupt-record
  * capture replaces jsonschema validation; constraint predicates replace
  * the draft-07 keywords; a single lineage splits valid/rejected (one scan,
  * two sinks); `partitionBy(year, month, day, store_id)` reproduces the
  * reference's lake layout (process_upload.py:205) and makes date/store
  * pruning free for every downstream query. Dynamic partition overwrite
  * gives the reference's idempotent per-(store,day) re-upload semantics
  * (write-metrics:104 unconditional put).
  */
object Ingest {

  /** The upload record schema (process-upload/upload-schema.json:5-69).
    * Money arrives as JSON numbers → read as double, cast to Decimal(10,2)
    * in [[normalize]] (process_upload.py:37-39). */
  val uploadSchema: StructType = StructType(Seq(
    StructField("transaction_id", StringType),
    StructField("transaction_timestamp", StringType),
    StructField("item_sku", StringType),
    StructField("item_name", StringType),
    StructField("quantity", IntegerType),
    StructField("unit_price", DoubleType),
    StructField("line_total", DoubleType),
    StructField("discount_amount", DoubleType),
    StructField("payment_method", StringType),
    StructField("customer_id", StringType)))

  val paymentEnum: Seq[String] = Seq("cash", "credit", "debit", "gift_card", "mobile")

  /** `store_XXXX_YYYY-MM-DD.json` (process_upload.py:28). */
  val filenamePattern = "^store_(\\d{4})_(\\d{4})-(\\d{2})-(\\d{2})\\.json$"

  /** `store_XXXX_YYYY-MM-DD.csv` — the CSV twin of [[filenamePattern]]. */
  val filenamePatternCsv = "^store_(\\d{4})_(\\d{4})-(\\d{2})-(\\d{2})\\.csv$"

  private val corrupt = "_corrupt_record"

  /** The upload read contract shared by the batch readers and the stream
    * reader ([[graft.streaming.StreamingIngest.runAvailableNow]]). */
  private[graft] val uploadReadSchema: StructType = uploadSchema.add(corrupt, StringType)

  private[graft] val uploadJsonOptions: Map[String, String] = Map(
    "multiLine" -> "true",
    "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> corrupt)

  /** Tag each row with its source file name (the partition-key carrier). */
  private[graft] def withFilename(df: DataFrame): DataFrame =
    df.withColumn("_filename", regexp_extract(input_file_name(), "([^/]+)$", 1))

  /** S1+S2: read a directory of JSON-array upload files. */
  def readUploads(spark: SparkSession, inDir: String): DataFrame =
    withFilename(spark.read.schema(uploadReadSchema).options(uploadJsonOptions)
      .json(s"$inDir/*.json"))

  /** S1b: the CSV upload source — same record schema, header row,
    * PERMISSIVE parse with malformed lines captured in the SAME
    * `_corrupt_record` column the JSON path uses, so the entire
    * downstream validation/quarantine/normalize/lake pipeline (S2–S5) is
    * FORMAT-AGNOSTIC: one rule set, one quarantine contract, N physical
    * formats — the schema-on-read posture that lets a lake accept a new
    * partner feed by adding a reader, not a pipeline. Pass
    * [[filenamePatternCsv]] to [[withErrors]]/[[normalize]]. */
  def readUploadsCsv(spark: SparkSession, inDir: String): DataFrame =
    withFilename(spark.read
      .schema(uploadReadSchema)
      .option("header", value = true)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .csv(s"$inDir/*.csv"))

  /** S3: constraint predicates = the JSON-Schema keywords as columns.
    * Returns the input with an `_errors` column (empty string = valid). */
  def withErrors(df: DataFrame, pattern: String = filenamePattern): DataFrame = {
    def failed(cond: org.apache.spark.sql.Column, tag: String) =
      when(cond, tag).otherwise(lit(null))
    df.withColumn("_errors", concat_ws(";",
      failed(!col("_filename").rlike(pattern), "invalid_filename"),
      failed(col(corrupt).isNotNull, "malformed_json"),
      failed(col(corrupt).isNull &&
        (col("transaction_id").isNull || length(col("transaction_id")) < 1),
        "missing_transaction_id"),
      failed(col(corrupt).isNull && to_timestamp(col("transaction_timestamp")).isNull,
        "bad_timestamp"),
      failed(col(corrupt).isNull && col("item_sku").isNull, "missing_sku"),
      failed(col(corrupt).isNull &&
        (col("quantity").isNull || col("quantity") < 1), "quantity_lt_1"),
      failed(col(corrupt).isNull &&
        (col("discount_amount").isNull || col("discount_amount") < 0),
        "negative_discount"),
      failed(col(corrupt).isNull && !col("payment_method").isin(paymentEnum: _*),
        "bad_payment_method")))
  }

  /** S4: typed/normalized valid rows + lake partition columns parsed from
    * the filename (str→timestamp, double→Decimal(10,2), int32 —
    * process_upload.py:183-192). */
  def normalize(validated: DataFrame,
                pattern: String = filenamePattern): DataFrame =
    validated
      .filter(col("_errors") === "")
      .select(
        col("transaction_id"),
        to_timestamp(col("transaction_timestamp")).as("transaction_timestamp"),
        col("item_sku"), col("item_name"),
        col("quantity"),
        col("unit_price").cast(DecimalType(10, 2)).as("unit_price"),
        col("line_total").cast(DecimalType(10, 2)).as("line_total"),
        col("discount_amount").cast(DecimalType(10, 2)).as("discount_amount"),
        col("payment_method"), col("customer_id"),
        regexp_extract(col("_filename"), pattern, 1).as("store_id"),
        regexp_extract(col("_filename"), pattern, 2).as("year"),
        regexp_extract(col("_filename"), pattern, 3).as("month"),
        regexp_extract(col("_filename"), pattern, 4).as("day"))

  /** Typed view of [[normalize]]'s output (drops the lake partition parts;
    * `store_id` retained). Encoder-checked at compile time. */
  def typedRecords(validated: DataFrame): Dataset[SalesRecord] = {
    val spark = validated.sparkSession
    import spark.implicits._
    normalize(validated)
      .drop("year", "month", "day")
      .as[SalesRecord]
  }

  /** Rejected rows with their error tags + source file (the `rejected/`
    * + `.error.json` sidecar analogue, process_upload.py:78-113). */
  def rejects(validated: DataFrame): DataFrame =
    validated.filter(col("_errors") =!= "")
      .select(col("_filename").as("source_file"), col("_errors").as("errors"),
        col(corrupt).as("corrupt_record"), col("transaction_id"))

  /** S5: Hive-layout lake write. Dynamic partition overwrite = idempotent
    * (store, day) re-upload. */
  def writeLake(df: DataFrame, lakeDir: String): Unit =
    df.write
      .partitionBy("year", "month", "day", "store_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(lakeDir)

  /** The full S1→S5 pipeline over a directory: one scan, two sinks.
    * Returns (validCount, rejectCount), each a metric observed by its
    * sink's write — no pass of its own. */
  def processUploads(spark: SparkSession, inDir: String,
                     lakeDir: String, rejectDir: String): (Long, Long) = {
    val validated = withErrors(readUploads(spark, inDir)).cache()
    try {
      val (nValid, nBad) = (Observation("valid_rows"), Observation("rejected_rows"))
      writeLake(normalize(validated).observe(nValid, count(lit(1)).as("n")), lakeDir)
      rejects(validated).observe(nBad, count(lit(1)).as("n"))
        .write.mode("overwrite").json(rejectDir) // S7 sink doubles as sidecar
      (nValid.get("n").asInstanceOf[Long], nBad.get("n").asInstanceOf[Long])
    } finally validated.unpersist()
  }

  /** S6: lake scan — partition discovery turns the Hive path layout back
    * into (year, month, day, store_id) columns for free; predicates on
    * them prune directories, not files. */
  def readLake(spark: SparkSession, lakeDir: String): DataFrame =
    spark.read.parquet(lakeDir)

  /** S7: NDJSON export — Spark's JSON sink is JSON-Lines by default,
    * exactly the QuickSight-manifest dataset shape
    * (export-to-quicksight:332-388). Coalesce keeps one object per
    * dataset-partition like the reference's one-file-per-dataset layout. */
  def exportNdjson(df: DataFrame, outDir: String, parts: Int = 1): Unit =
    df.coalesce(parts).write.mode("overwrite").json(outDir)

  /** S7 sidecar: the BI-tool manifest JSON the reference writes next to
    * each exported dataset (export-to-quicksight/lambda_function.py:
    * 364-388): `fileLocations[0].URIs` lists every data file;
    * `globalUploadSettings.format` declares NDJSON. Uses the Hadoop
    * FileSystem API so the same code addresses local paths in tests and
    * object stores in production; the listing is one metadata call over
    * the handful of part files, never a data read. Returns the manifest
    * path. */
  def writeManifest(spark: SparkSession, outDir: String): String = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(outDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
      .map(_.toString).sorted
    val uris = files.map(f => "\"" + f + "\"").mkString(", ")
    val body =
      s"""{
         |  "fileLocations": [
         |    {"URIs": [$uris]}
         |  ],
         |  "globalUploadSettings": {
         |    "format": "JSON"
         |  }
         |}""".stripMargin
    val manifest = new Path(dir, "manifest.json")
    val out = fs.create(manifest, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    manifest.toString
  }

  /** The reference's full per-dataset export step: NDJSON data files plus
    * the manifest sidecar a BI consumer points at. */
  /** s9: ORC INTERCHANGE ROUND-TRIP — certifies the second columnar
    * format Spark ships natively (vectorized reader, predicate pushdown,
    * zlib/zstd codecs; the Hive-ecosystem counterpart of the lake's
    * parquet). The sales projection — string, date-string, long, and
    * DECIMAL(18,2) money columns — is written to ORC ONCE per
    * (session, sf) into a session-scoped temp dir, read back through
    * `spark.read.orc`, and rolled up per store. The oracle computes the
    * SAME rollup from the parquet table, so a hash match certifies
    * value-exact survival of every type through the ORC writer/reader
    * pair (DuckDB reads no ORC — routing the oracle through parquet is
    * what makes this key checkable at all). The memoized handle is a
    * plan leaf, so repeated calls pay neither the write nor the read. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val viaOrc = graft.model.Silver.memoize(spark, "orcSales", dir) {
      val orcDir = graft.etl.Scratch.tempDir("orc")
      graft.model.Tables.sales(spark, dir)
        .select(col("store_id"), col("sale_date"), col("sku"),
          col("quantity"), col("line_total"), col("discount_amount"))
        .write.mode("overwrite").orc(orcDir)
      spark.read.orc(orcDir)
    }
    viaOrc.groupBy(col("store_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("quantity")).as("total_units"),
        sum(col("line_total") - col("discount_amount")).cast("double")
          .as("net_sales"),
        countDistinct(col("sale_date")).as("n_dates"))
      .orderBy(col("store_id"))
  }

  def orcRoundtripSql(): String =
    s"""WITH s AS (${graft.model.Tables.salesSql})
       |SELECT store_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(quantity) AS BIGINT) AS total_units,
       |  CAST(SUM(line_total - discount_amount) AS DOUBLE) AS net_sales,
       |  CAST(COUNT(DISTINCT sale_date) AS BIGINT) AS n_dates
       |FROM s GROUP BY store_id ORDER BY store_id""".stripMargin

  def exportNdjsonWithManifest(df: DataFrame, outDir: String, parts: Int = 1): String = {
    exportNdjson(df, outDir, parts)
    writeManifest(df.sparkSession, outDir)
  }
}
