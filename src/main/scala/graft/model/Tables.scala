package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical testdata loaders + the reference's data model mapped onto the
  * TPC-H-ish testdata (see SURVEY.md §7.3 / FIXTURES.md §3).
  *
  * Reference data model (reference: backend/functions/process-upload/
  * upload-schema.json:5-69, process_upload.py:31-42): sales line items with
  * (store_id, date, sku, quantity, money columns as decimal(10,2),
  * payment_method enum). We map:
  *   store_id       <- format_string('%04d', l_suppkey)  (4-digit store ids,
  *                     reference scripts/generate_sample_data.py:283 uses
  *                     {store_num:04d} — pads but NEVER truncates, so ids
  *                     stay collision-free at sf>=1 where suppkey > 9999)
  *   sale_date      <- to_date(l_shipdate) as 'yyyy-MM-dd' string key
  *                     (reference keeps dates as string keys for BI,
  *                     export-to-quicksight/lambda_function.py:215-217)
  *   sku            <- l_partkey
  *   quantity       <- l_quantity
  *   line_total     <- l_extendedprice   as DECIMAL(18,2)
  *   discount_amount<- round(l_extendedprice * l_discount, 2) DECIMAL
  *   payment_method <- o_orderpriority bucketed to the 5-value enum
  *                     {cash,credit,debit,gift_card,mobile}
  *                     (upload-schema.json:58-62)
  *
  * ORACLE-PARITY CONVENTIONS (every oracle-checked query follows these —
  * the driver hash-compares Spark parquet vs DuckDB results):
  *  - Never sum/avg raw doubles (float sums are addend-order-dependent and
  *    nondeterministic across partitions). Cast 2-dp money doubles to
  *    DECIMAL(18,2) first; decimal arithmetic is exact and order-independent.
  *  - Ratios: cast exact decimals to double, then a single IEEE division —
  *    bit-identical in both engines. Avoid round() on doubles (Spark rounds
  *    the shortest decimal repr HALF_UP, DuckDB rounds the binary value —
  *    they disagree on values like 0.615).
  *  - round() only on DECIMALs (HALF_UP in Spark == half-away-from-zero in
  *    DuckDB for positive money).
  *  - Dates as 'yyyy-MM-dd' strings, counts as BIGINT, money out as DOUBLE.
  *  - Every query is totally ordered by a unique key (stable hash compare).
  */
object Tables {
  val Money: DecimalType = DecimalType(18, 2)

  /** A table read with its schema given: the parquet footer pass that
    * infers it (a Spark job) runs once per session and table. */
  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(Silver.once(spark, s"tableSchema:$name", dir) {
      spark.read.parquet(path).schema
    }).parquet(path)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * generations and TIMESTAMP(MICROS, ntz) in others, so the loader adapts
    * to whatever physical type it finds and always yields TimestampType:
    *  - NANOS reads as epoch-nanos LongType under
    *    spark.sql.legacy.parquet.nanosAsLong=true (set by every session
    *    builder here) → exact integer division to micros;
    *  - MICROS without UTC adjustment reads as TIMESTAMP_NTZ → cast, which
    *    is value-preserving because every session pins
    *    spark.sql.session.timeZone=UTC (DuckDB's oracle reads render the
    *    same instants). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw =
      try load(spark, dir, "events")
      catch {
        // keep the actionable message a consumer without the conf would
        // otherwise lose (Spark's raw "Illegal Parquet type" names no fix)
        case e: Exception if String.valueOf(e.getMessage).contains("NANOS") =>
          throw new IllegalStateException(
            "events.parquet is TIMESTAMP(NANOS): set " +
              "spark.sql.legacy.parquet.nanosAsLong=true at session build " +
              "(Verify/Bench/test fixtures do)", e)
      }
    raw.schema("ts").dataType match {
      case LongType          => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType     => raw
      case TimestampNTZType  => raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => sys.error(s"events.ts: unexpected parquet type $other")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  private def salesProjection(li: DataFrame): DataFrame =
    li.select(
      format_string("%04d", col("l_suppkey")).as("store_id"),
      date_format(col("l_shipdate"), "yyyy-MM-dd").as("sale_date"),
      col("l_partkey").as("sku"),
      col("l_quantity").cast(LongType).as("quantity"),
      col("l_extendedprice").cast(Money).as("line_total"),
      round(col("l_extendedprice").cast(Money) * col("l_discount").cast(Money), 2)
        .as("discount_amount"),
      col("l_orderkey"),
      col("l_linenumber"),
      col("l_returnflag")
    )

  /** Canonical sales-line-item view (the reference's only fact table). */
  def sales(spark: SparkSession, dir: String): DataFrame =
    salesProjection(lineitem(spark, dir))

  /** [[sales]] restricted to sale_date ∈ [from, to] with the REDUNDANT raw
    * `l_shipdate` range predicate applied before the projection: the
    * string-typed sale_date filter can't reach the parquet reader (it's an
    * expression on a derived column), but the equivalent timestamp range
    * pushes into row-group stats pruning. (`ReadSchema`/`PushedFilters`
    * audited via Profile; at production scale the lake is additionally
    * partitioned by year/month/day/store — [[graft.ingest.Ingest]] — so
    * pruning is structural.) Oracle twins are unchanged: the predicate is
    * semantically implied. */
  def salesInRange(spark: SparkSession, dir: String, from: String, to: String): DataFrame =
    salesProjection(
      lineitem(spark, dir)
        .filter(col("l_shipdate") >= lit(from).cast(TimestampNTZType) &&
          col("l_shipdate") < date_add(to_date(lit(to)), 1).cast(TimestampNTZType)))
      .filter(col("sale_date").between(from, to))

  /** SQL (DuckDB) twin of [[sales]] for oracle WITH-clauses. */
  val salesSql: String =
    """SELECT
      |  printf('%04d', l_suppkey) AS store_id,
      |  strftime(l_shipdate, '%Y-%m-%d') AS sale_date,
      |  l_partkey AS sku,
      |  CAST(l_quantity AS BIGINT) AS quantity,
      |  CAST(l_extendedprice AS DECIMAL(18,2)) AS line_total,
      |  ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)), 2) AS discount_amount,
      |  l_orderkey, l_linenumber, l_returnflag
      |FROM lineitem""".stripMargin

  /** Sales + payment_method (o_orderpriority bucketed onto the reference's
    * 5-value enum, upload-schema.json:58-62). Requires a join to orders —
    * at scale this is a shuffle join on l_orderkey; AQE handles skew. */
  def salesWithPayment(spark: SparkSession, dir: String): DataFrame =
    withPayment(spark, dir, sales(spark, dir))

  /** [[salesWithPayment]] over the range-pruned scan. */
  def salesWithPaymentInRange(spark: SparkSession, dir: String,
                              from: String, to: String): DataFrame =
    withPayment(spark, dir, salesInRange(spark, dir, from, to))

  private def withPayment(spark: SparkSession, dir: String, base: DataFrame): DataFrame = {
    val o = orders(spark, dir).select(
      col("o_orderkey"),
      paymentFromPriority(col("o_orderpriority")).as("payment_method"))
    base.join(o, col("l_orderkey") === col("o_orderkey"), "inner")
      .drop("o_orderkey")
  }

  def paymentFromPriority(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c === "1-URGENT", "cash")
      .when(c === "2-HIGH", "credit")
      .when(c === "3-MEDIUM", "debit")
      .when(c === "4-NOT SPECIFIED", "gift_card")
      .otherwise("mobile")

  val salesWithPaymentSql: String =
    s"""SELECT s.*, CASE o.o_orderpriority
       |    WHEN '1-URGENT' THEN 'cash'
       |    WHEN '2-HIGH' THEN 'credit'
       |    WHEN '3-MEDIUM' THEN 'debit'
       |    WHEN '4-NOT SPECIFIED' THEN 'gift_card'
       |    ELSE 'mobile' END AS payment_method
       |FROM ($salesSql) s JOIN orders o ON s.l_orderkey = o.o_orderkey""".stripMargin
}
