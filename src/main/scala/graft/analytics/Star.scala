package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Star-schema join shapes over the full TPC-H-ish dimension chain
  * (region → nation → customer → orders → lineitem). The reference's
  * own queries are single-fact rollups (its store "dimension" is a
  * column on the fact, SURVEY §2.4); these keys exercise the
  * multi-way dimensional JOIN topology every warehouse query planner
  * is actually judged on, with the 100 TB plan stated and gated:
  * tiny dims BROADCAST (region/nation — kilobytes forever), the
  * customer dimension pre-joins to its snowflake dims map-side and
  * then meets orders on the custkey hash, and the fact table meets
  * orders on the orderkey hash — the only data-sized exchanges are
  * on the two high-cardinality keys a 1000-executor cluster
  * distributes evenly. Filters stay on raw parquet columns so
  * pushdown reaches the scan ([[Tables.salesInRange]]). */
object Star {

  /** j9: revenue per (region, nation) for the 1997 ship year — the
    * TPC-H Q5 topology. Chain: sales'97 ⋈ orders (orderkey) ⋈
    * customer (custkey) ⋈ nation ⋈ region. nation⋈region is
    * broadcast into customer (a map-side dim decoration — the
    * snowflake collapse), so the group keys arrive attached to the
    * custkey side and the final aggregate is |nations|-bounded.
    * Revenue is exact DECIMAL (line_total − discount_amount summed,
    * then cents-cast) — order-independent, partition-safe. */
  def starRevenue(spark: SparkSession, dir: String): DataFrame = {
    val dims = broadcast(
      Tables.nation(spark, dir)
        .join(Tables.region(spark, dir),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name").as("nation_name"),
          col("r_name").as("region_name")))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(dims, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("region_name"), col("nation_name"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    Tables.salesInRange(spark, dir, "1997-01-01", "1997-12-31")
      .select(col("l_orderkey"),
        (col("line_total") - col("discount_amount")).as("net_dec"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("region_name"), col("nation_name"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("net_dec")) * 100).cast("long").as("revenue_cents"))
      .orderBy(col("region_name"), col("nation_name"))
  }

  def starRevenueSql: String =
    s"""WITH s AS (SELECT * FROM (${Tables.salesSql}) b
       |  WHERE sale_date BETWEEN '1997-01-01' AND '1997-12-31'),
       |cust AS (
       |  SELECT c_custkey, r_name AS region_name, n_name AS nation_name
       |  FROM customer
       |  JOIN nation ON c_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey)
       |SELECT region_name, nation_name,
       |  CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(line_total - discount_amount) * 100 AS BIGINT)
       |    AS revenue_cents
       |FROM s
       |JOIN orders ON s.l_orderkey = o_orderkey
       |JOIN cust ON o_custkey = c_custkey
       |GROUP BY region_name, nation_name
       |ORDER BY region_name, nation_name""".stripMargin

  /** j11: SMALL-QUANTITY revenue — the TPC-H Q17 topology (the
    * classic correlated scalar subquery, "lines below 20% of their
    * part's average quantity", decorrelated by hand the way Catalyst
    * lowers it): a per-part aggregate joined back to the fact on the
    * SAME partkey hash (co-keyed — the join adds no exchange beyond
    * the aggregate's), with the fractional-average predicate kept in
    * EXACT integers — `qty < 0.2·avg` ⟺ `5·qty·n_part < sum_qty_part`
    * — no float average, no rounding ambiguity. Qualifying-line
    * revenue rolls up per brand through the broadcast part dim. */
  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_partkey"),
      col("l_quantity").cast("long").as("qty"),
      col("l_extendedprice").cast(Tables.Money).as("price_dec"))
    val pa = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines_part"),
        sum(col("qty")).cast("long").as("sum_qty_part"))
      .select(col("l_partkey").as("pk"), col("n_lines_part"),
        col("sum_qty_part"))
    val p = broadcast(Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand")))
    li.join(pa, col("l_partkey") === col("pk"))
      .filter(col("qty") * 5 * col("n_lines_part") < col("sum_qty_part"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small_lines"),
        (sum(col("price_dec")) * 100).cast("long").as("revenue_cents"))
      .orderBy(col("p_brand"))
  }

  val smallQtyRevenueSql: String =
    """WITH li AS (
      |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price_dec
      |  FROM lineitem),
      |pa AS (
      |  SELECT l_partkey AS pk,
      |    CAST(COUNT(*) AS BIGINT) AS n_lines_part,
      |    CAST(SUM(qty) AS BIGINT) AS sum_qty_part
      |  FROM li GROUP BY 1)
      |SELECT p_brand,
      |  CAST(COUNT(*) AS BIGINT) AS n_small_lines,
      |  CAST(SUM(price_dec) * 100 AS BIGINT) AS revenue_cents
      |FROM li
      |JOIN pa ON li.l_partkey = pa.pk
      |JOIN part ON li.l_partkey = p_partkey
      |WHERE qty * 5 * n_lines_part < sum_qty_part
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** j12: PRICING SUMMARY — the TPC-H Q1 topology: one fully
    * map-side-combinable aggregate over the fact scan, grouped by the
    * 6-cell (returnflag, linestatus) grid. All money stays EXACT
    * DECIMAL through the sums: disc_price = price·(1−disc) at scale 4,
    * charge = disc_price·(1+tax) at scale 6, emitted as scale-matched
    * integer units (cents·10⁴ / cents·10⁶... micro units) because a
    * decimal→BIGINT cast ROUNDS in DuckDB but TRUNCATES in Spark — an
    * integer-valued decimal (sum × 10^scale) casts identically in
    * both. Averages are single IEEE divisions of the exact sums. The
    * 100 TB shape: partial aggregation collapses each partition to ≤6
    * rows before the only exchange. */
  def pricingSummary(spark: SparkSession, dir: String,
                     cutoff: String = "2001-09-01"): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, TimestampNTZType}
    val d42 = DecimalType(4, 2)
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") < lit(cutoff).cast(TimestampNTZType))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("qty"),
        col("l_extendedprice").cast(Tables.Money).as("price_dec"),
        col("l_discount").cast(d42).as("disc"),
        col("l_tax").cast(d42).as("tax"))
      .withColumn("disc_price", col("price_dec") * (lit(1).cast(d42) - col("disc")))
      .withColumn("charge", col("disc_price") * (lit(1).cast(d42) + col("tax")))
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("qty")).cast("long").as("sum_qty"),
        (sum(col("price_dec")) * 100).cast("long").as("sum_base_cents"),
        (sum(col("disc_price")) * 10000).cast("long").as("sum_disc_price_e4"),
        (sum(col("charge")) * 1000000).cast("long").as("sum_charge_e6"),
        count(lit(1)).as("n_lines"),
        (sum(col("disc")) * 100).cast("long").as("sum_disc_bp"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("sum_base_cents"), col("sum_disc_price_e4"), col("sum_charge_e6"),
        col("n_lines"),
        (col("sum_qty").cast("double") / col("n_lines").cast("double"))
          .as("avg_qty"),
        (col("sum_base_cents").cast("double") / col("n_lines").cast("double"))
          .as("avg_price_cents"),
        (col("sum_disc_bp").cast("double") / col("n_lines").cast("double"))
          .as("avg_disc_bp"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  def pricingSummarySql(cutoff: String = "2001-09-01"): String =
    s"""WITH li AS (
       |  SELECT l_returnflag, l_linestatus,
       |    CAST(l_quantity AS BIGINT) AS qty,
       |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price_dec,
       |    CAST(l_extendedprice AS DECIMAL(18,2)) *
       |      (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
       |      AS disc_price,
       |    CAST(l_extendedprice AS DECIMAL(18,2)) *
       |      (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) *
       |      (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))
       |      AS charge,
       |    CAST(l_discount AS DECIMAL(4,2)) AS disc
       |  FROM lineitem
       |  WHERE l_shipdate < TIMESTAMP '$cutoff 00:00:00')
       |SELECT l_returnflag, l_linestatus,
       |  CAST(SUM(qty) AS BIGINT) AS sum_qty,
       |  CAST(SUM(price_dec) * 100 AS BIGINT) AS sum_base_cents,
       |  CAST(SUM(disc_price) * 10000 AS BIGINT) AS sum_disc_price_e4,
       |  CAST(SUM(charge) * 1000000 AS BIGINT) AS sum_charge_e6,
       |  CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(qty) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
       |  CAST(CAST(SUM(price_dec) * 100 AS BIGINT) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS avg_price_cents,
       |  CAST(CAST(SUM(disc) * 100 AS BIGINT) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS avg_disc_bp
       |FROM li
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** j13: PROMOTION-REVENUE SHARE per month — the TPC-H Q14 topology:
    * the part dimension (broadcast) tags each line as promo or not,
    * and the monthly share is EXACT integer milli over cents
    * (numerator·1000 DIV denominator — never a float percentage of
    * floats). Month keys are y·100+m integers rendered 'yyyy-MM'. */
  def promoShare(spark: SparkSession, dir: String): DataFrame = {
    val p = broadcast(Tables.part(spark, dir)
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo")))
    // month key as year*100+month (injective; guide §2.3): the group key
    // shuffles as one long and the 'yyyy-MM' string is formatted on the
    // |months| output rows instead of every fact row
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("mk"),
        (col("l_extendedprice").cast(Tables.Money) -
          round(col("l_extendedprice").cast(Tables.Money) *
            col("l_discount").cast(Tables.Money), 2)).as("net_dec"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("mk"))
      .agg(
        (sum(when(col("is_promo"), col("net_dec"))
          .otherwise(lit(0).cast(Tables.Money))) * 100).cast("long")
          .as("promo_cents"),
        (sum(col("net_dec")) * 100).cast("long").as("total_cents"),
        count(lit(1)).as("n_lines"))
      // zero guard: a month whose net revenue sums to exactly 0 cents
      // would raise DIVIDE_BY_ZERO under Spark 4 ANSI mode — NULL the
      // share instead (mirrored in the DuckDB twin below)
      .withColumn("promo_milli",
        expr("CASE WHEN total_cents = 0 THEN NULL " +
          "ELSE promo_cents * 1000 DIV total_cents END"))
      .select(format_string("%04d-%02d", expr("mk DIV 100"), col("mk") % 100)
          .as("month"),
        col("promo_cents"), col("total_cents"), col("n_lines"),
        col("promo_milli"))
      .orderBy(col("month"))
  }

  val promoShareSql: String =
    """WITH li AS (
      |  SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS month,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) -
      |      ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |        CAST(l_discount AS DECIMAL(18,2)), 2) AS net_dec
      |  FROM lineitem),
      |m AS (
      |  SELECT month,
      |    CAST(SUM(CASE WHEN p_type = 'PROMO' THEN net_dec
      |      ELSE CAST(0 AS DECIMAL(18,2)) END) * 100 AS BIGINT)
      |      AS promo_cents,
      |    CAST(SUM(net_dec) * 100 AS BIGINT) AS total_cents,
      |    CAST(COUNT(*) AS BIGINT) AS n_lines
      |  FROM li JOIN part ON l_partkey = p_partkey
      |  GROUP BY month)
      |SELECT month, promo_cents, total_cents, n_lines,
      |  CASE WHEN total_cents = 0 THEN NULL
      |    ELSE promo_cents * 1000 // total_cents END AS promo_milli
      |FROM m ORDER BY month""".stripMargin

  /** j10: unshipped-revenue order ranking — the TPC-H Q3 topology.
    * For customers in one market segment, orders PLACED before the
    * cutoff whose lines SHIP after it (booked but unfulfilled
    * revenue), ranked to the top 10. The selective dimension
    * predicate (1-of-5 segment) rides the broadcast-able customer
    * projection; both date predicates sit on raw parquet columns
    * (row-group pruning on both scans); the ranking is a global
    * top-k = TakeOrderedAndProject — per-partition heaps then one
    * k-row merge at the driver, never a global sort exchange. */
  def shippingPriority(spark: SparkSession, dir: String,
                       segment: String = "BUILDING",
                       cutoff: String = "1998-06-01",
                       k: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.TimestampNTZType
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === segment)
      .select(col("c_custkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit(cutoff).cast(TimestampNTZType))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit(cutoff).cast(TimestampNTZType))
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast(Tables.Money) -
          round(col("l_extendedprice").cast(Tables.Money) *
            col("l_discount").cast(Tables.Money), 2)).as("net_dec"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("order_date"), col("o_orderpriority"))
      .agg((sum(col("net_dec")) * 100).cast("long").as("revenue_cents"))
      .select(col("l_orderkey").as("orderkey"), col("order_date"),
        col("o_orderpriority").as("priority"), col("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("order_date"), col("orderkey"))
      .limit(k)
  }

  def shippingPrioritySql(segment: String = "BUILDING",
                          cutoff: String = "1998-06-01",
                          k: Int = 10): String =
    s"""SELECT l_orderkey AS orderkey,
       |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       |  o_orderpriority AS priority,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) -
       |    ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |      CAST(l_discount AS DECIMAL(18,2)), 2)) * 100 AS BIGINT)
       |    AS revenue_cents
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = '$segment'
       |  AND o_orderdate < TIMESTAMP '$cutoff 00:00:00'
       |  AND l_shipdate > TIMESTAMP '$cutoff 00:00:00'
       |GROUP BY l_orderkey, order_date, o_orderpriority
       |ORDER BY revenue_cents DESC, order_date, orderkey
       |LIMIT $k""".stripMargin

  /** j14: NATION MARKET SHARE — the TPC-H Q8 topology: within ONE
    * customer region (the market), each SUPPLIER nation's share of
    * yearly net revenue. Two independent dimension paths decorate the
    * same fact row — the customer side (orders→customer→nation→region,
    * the market filter) and the supplier side (l_suppkey→supplier→
    * nation, the seller attribution) — the shape that catches planners
    * double-shuffling a fact for each dim chain. Here both dim chains
    * collapse to BROADCAST decorations (supplier and customer
    * projections are keys+nation only; nation/region are kilobytes
    * forever), so the only data-sized exchanges are the fact⋈orders
    * orderkey hash and the (year, nation)-bounded aggregate. Shares
    * are exact integer milli of cents (never float-of-float). */
  def marketShare(spark: SparkSession, dir: String,
                  market: String = "ASIA"): DataFrame = {
    val nat = Tables.nation(spark, dir)
    val marketCust = broadcast(
      Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
        .join(nat.join(Tables.region(spark, dir),
            col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === market)
          .select(col("n_nationkey")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey")))
    val supp = broadcast(
      Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
        .join(nat.select(col("n_nationkey"), col("n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val o = Tables.orders(spark, dir)
      .join(marketCust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"))
    val byNation = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("sale_year"),
        (col("l_extendedprice").cast(Tables.Money) -
          round(col("l_extendedprice").cast(Tables.Money) *
            col("l_discount").cast(Tables.Money), 2)).as("net_dec"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("sale_year"), col("supp_nation"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("net_dec")) * 100).cast("long").as("revenue_cents"))
      // materialized once: the (year, nation) aggregate feeds the
      // year-totals broadcast subtree AND the share join — without this
      // the whole fact join chain executed twice per call
      .localCheckpoint()
    val yearTotals = byNation.groupBy(col("sale_year"))
      .agg(sum(col("revenue_cents")).cast("long").as("market_cents"))
      .select(col("sale_year").as("yt_year"), col("market_cents"))
    byNation
      .join(broadcast(yearTotals), col("sale_year") === col("yt_year"))
      .select(col("sale_year"), col("supp_nation"), col("n_lines"),
        col("revenue_cents"), col("market_cents"),
        // zero guard: a year whose market revenue nets to exactly 0
        // cents would raise DIVIDE_BY_ZERO under ANSI mode
        expr("CASE WHEN market_cents = 0 THEN NULL " +
          "ELSE revenue_cents * 1000 DIV market_cents END").as("share_milli"))
      .orderBy(col("sale_year"), col("supp_nation"))
  }

  def marketShareSql(market: String = "ASIA"): String =
    s"""WITH mcust AS (
       |  SELECT c_custkey FROM customer
       |  JOIN nation ON c_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  WHERE r_name = '$market'),
       |supp AS (
       |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey),
       |bynation AS (
       |  SELECT CAST(year(l_shipdate) AS BIGINT) AS sale_year,
       |    supp_nation,
       |    CAST(COUNT(*) AS BIGINT) AS n_lines,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) -
       |      ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |        CAST(l_discount AS DECIMAL(18,2)), 2)) * 100 AS BIGINT)
       |      AS revenue_cents
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN mcust ON o_custkey = c_custkey
       |  JOIN supp ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2),
       |yt AS (
       |  SELECT sale_year AS yt_year,
       |    CAST(SUM(revenue_cents) AS BIGINT) AS market_cents
       |  FROM bynation GROUP BY 1)
       |SELECT sale_year, supp_nation, n_lines, revenue_cents, market_cents,
       |  CASE WHEN market_cents = 0 THEN NULL
       |    ELSE revenue_cents * 1000 // market_cents END AS share_milli
       |FROM bynation JOIN yt ON sale_year = yt_year
       |ORDER BY sale_year, supp_nation""".stripMargin

  /** j15: TOP SUPPLIER — the TPC-H Q15 topology: each store's net
    * revenue over one quarter, keeping every store that TIES the
    * maximum (the "revenue = (SELECT max ...)" correlation,
    * decorrelated as a 1-row broadcast max joined back — no window,
    * no second fact scan: the max is computed from the same bounded
    * per-store aggregate it filters). The date predicate sits on the
    * raw l_shipdate column (row-group pruning); the supplier dim
    * broadcasts for the name decoration AFTER the filter, so it
    * touches only the winner rows. */
  def topSupplier(spark: SparkSession, dir: String,
                  from: String = "1997-01-01",
                  until: String = "1997-04-01"): DataFrame = {
    import org.apache.spark.sql.types.TimestampNTZType
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast(TimestampNTZType) &&
        col("l_shipdate") < lit(until).cast(TimestampNTZType))
      .select(col("l_suppkey"),
        (col("l_extendedprice").cast(Tables.Money) -
          round(col("l_extendedprice").cast(Tables.Money) *
            col("l_discount").cast(Tables.Money), 2)).as("net_dec"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("net_dec")) * 100).cast("long").as("revenue_cents"))
    val top = rev.agg(max(col("revenue_cents")).as("max_cents"))
    rev.join(broadcast(top), col("revenue_cents") === col("max_cents"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(format_string("%04d", col("l_suppkey")).as("store_id"),
        col("s_name"), col("n_lines"), col("revenue_cents"))
      .orderBy(col("store_id"))
  }

  def topSupplierSql(from: String = "1997-01-01",
                     until: String = "1997-04-01"): String =
    s"""WITH rev AS (
       |  SELECT l_suppkey,
       |    CAST(COUNT(*) AS BIGINT) AS n_lines,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) -
       |      ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |        CAST(l_discount AS DECIMAL(18,2)), 2)) * 100 AS BIGINT)
       |      AS revenue_cents
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '$from 00:00:00'
       |    AND l_shipdate < TIMESTAMP '$until 00:00:00'
       |  GROUP BY 1)
       |SELECT printf('%04d', l_suppkey) AS store_id, s_name,
       |  n_lines, revenue_cents
       |FROM rev
       |JOIN supplier ON l_suppkey = s_suppkey
       |WHERE revenue_cents = (SELECT MAX(revenue_cents) FROM rev)
       |ORDER BY store_id""".stripMargin

  /** j16: SUPPLIER-PART COUNTS — the TPC-H Q16 topology: how many
    * DISTINCT suppliers can source each (brand, size) cell, excluding
    * one brand and the promo line (the assortment-breadth query a
    * procurement team runs; TPC-H reads partsupp — this testdata's
    * supplier-part relation is the lineitem fact). The distinct runs
    * two-phase: the first hash aggregate collapses to unique (brand,
    * size, suppkey) triples map-side — bounded by |parts|·|suppliers|
    * regardless of fact volume — then a (brand, size)-bounded count.
    * The part dim broadcasts; its exclusion predicates prune before
    * the join. */
  def supplierPartCounts(spark: SparkSession, dir: String,
                         excludeBrand: String = "Brand#5"): DataFrame = {
    val p = broadcast(Tables.part(spark, dir)
      .filter(col("p_brand") =!= excludeBrand && col("p_type") =!= "PROMO")
      .select(col("p_partkey"), col("p_brand"), col("p_size")))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size").cast("long").as("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  def supplierPartCountsSql(excludeBrand: String = "Brand#5"): String =
    s"""SELECT p_brand, CAST(p_size AS BIGINT) AS p_size,
       |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |WHERE p_brand <> '$excludeBrand' AND p_type <> 'PROMO'
       |GROUP BY p_brand, p_size
       |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin

  /** j17: LARGE-VOLUME ORDERS — the TPC-H Q18 topology: orders whose
    * total line quantity crosses a threshold, decorated with the
    * customer who placed them. The HAVING-subquery shape lowers to
    * one orderkey hash aggregate whose output joins orders ON THE
    * SAME orderkey hash (co-keyed — no extra exchange for the join),
    * and the threshold prunes the aggregate to a sliver before any
    * dimension is touched; the customer decoration broadcasts into
    * the surviving rows. Quantities are exact longs. */
  def largeOrders(spark: SparkSession, dir: String,
                  minQty: Long = 250L): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("long").as("total_qty"),
        count(lit(1)).as("n_lines"))
      .filter(col("total_qty") > minQty)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        (col("o_totalprice").cast(Tables.Money) * 100).cast("long")
          .as("totalprice_cents"))
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("l_orderkey"),
        col("order_date"), col("totalprice_cents"), col("total_qty"),
        col("n_lines"))
      .orderBy(col("total_qty").desc, col("l_orderkey"))
  }

  def largeOrdersSql(minQty: Long = 250L): String =
    s"""WITH big AS (
       |  SELECT l_orderkey,
       |    CAST(SUM(l_quantity) AS BIGINT) AS total_qty,
       |    CAST(COUNT(*) AS BIGINT) AS n_lines
       |  FROM lineitem GROUP BY 1
       |  HAVING CAST(SUM(l_quantity) AS BIGINT) > $minQty)
       |SELECT c_name, c_custkey, l_orderkey,
       |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |    AS totalprice_cents,
       |  total_qty, n_lines
       |FROM big
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY total_qty DESC, l_orderkey""".stripMargin

  /** j18: DORMANT HIGH-VALUE CUSTOMERS — the TPC-H Q22 topology:
    * customers whose account balance beats the positive-balance
    * average but who placed NO order since `cutoff`, rolled up per
    * nation (the win-back campaign list). Two decorrelations, both
    * exact: the scalar average subquery becomes a 1-row broadcast
    * (and the comparison stays in INTEGERS — bal·100·n > total_cents
    * — no float average, no rounding ambiguity), and NOT EXISTS
    * becomes a LEFT ANTI join against recent orders on the custkey
    * hash — the customer side's only exchange, which the date
    * predicate shrinks on the other side before any movement. */
  def dormantCustomers(spark: SparkSession, dir: String,
                       cutoff: String = "2001-01-01"): DataFrame = {
    import org.apache.spark.sql.types.TimestampNTZType
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        (col("c_acctbal").cast(Tables.Money) * 100).cast("long")
          .as("bal_cents"))
    val avgRow = cust.filter(col("bal_cents") > 0)
      .agg(sum(col("bal_cents")).cast("long").as("total_cents"),
        count(lit(1)).as("n_pos"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(cutoff).cast(TimestampNTZType))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(avgRow))
      .filter(col("bal_cents") * col("n_pos") > col("total_cents"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_custs"),
        sum(col("bal_cents")).cast("long").as("total_bal_cents"))
      .orderBy(col("n_name"))
  }

  def dormantCustomersSql(cutoff: String = "2001-01-01"): String =
    s"""WITH cust AS (
       |  SELECT c_custkey, c_nationkey,
       |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS bal_cents
       |  FROM customer),
       |a AS (
       |  SELECT CAST(SUM(bal_cents) AS BIGINT) AS total_cents,
       |    CAST(COUNT(*) AS BIGINT) AS n_pos
       |  FROM cust WHERE bal_cents > 0),
       |recent AS (
       |  SELECT DISTINCT o_custkey FROM orders
       |  WHERE o_orderdate >= TIMESTAMP '$cutoff 00:00:00')
       |SELECT n_name,
       |  CAST(COUNT(*) AS BIGINT) AS n_custs,
       |  CAST(SUM(bal_cents) AS BIGINT) AS total_bal_cents
       |FROM cust CROSS JOIN a
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE bal_cents * n_pos > total_cents
       |  AND NOT EXISTS (SELECT 1 FROM recent
       |                  WHERE o_custkey = c_custkey)
       |GROUP BY n_name
       |ORDER BY n_name""".stripMargin

  /** j19: SPLIT-SHIPMENT PRIORITY COUNTS — the TPC-H Q4 topology
    * (EXISTS semi-join folded into the fact aggregate): per order
    * priority, how many orders had lines shipping across more than
    * one calendar month — the fulfilment-quality cut an ops team
    * tracks by priority class. The per-order existence test is NOT a
    * self-join: min(month) <> max(month) rides the SAME orderkey
    * aggregate that Q18 uses, then meets orders co-keyed and rolls
    * up to the 5-row priority grid, with the share in exact milli. */
  def splitShipments(spark: SparkSession, dir: String): DataFrame = {
    // month key as year*100+month: injective and order-isomorphic to the
    // 'yyyy-MM' string, so min≠max is the identical boolean while the
    // per-fact-row date_format string build disappears (guide §2.3
    // narrower types; the oracle keeps the strftime form)
    val perOrder = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("m"))
      .groupBy(col("l_orderkey"))
      .agg((min(col("m")) =!= max(col("m"))).as("is_split"))
    perOrder
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("is_split"), 1L).otherwise(0L)).cast("long")
          .as("n_split"))
      .withColumn("split_milli", expr("n_split * 1000 DIV n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val splitShipmentsSql: String =
    """WITH per_order AS (
      |  SELECT l_orderkey,
      |    MIN(strftime(l_shipdate, '%Y-%m'))
      |      <> MAX(strftime(l_shipdate, '%Y-%m')) AS is_split
      |  FROM lineitem GROUP BY 1)
      |SELECT o_orderpriority,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CASE WHEN is_split THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_split,
      |  CAST(SUM(CASE WHEN is_split THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000 // COUNT(*) AS split_milli
      |FROM per_order
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** j20: RETURNED-ITEM CUSTOMER RANKING — the TPC-H Q10 topology:
    * which customers drove the most returned revenue in one quarter
    * (the churn-risk outreach list). The quarter predicate prunes
    * ORDERS (row-group pruning on o_orderdate), the return flag
    * prunes the fact scan, they meet on the orderkey hash, and the
    * custkey aggregate's top-`k` is TakeOrderedAndProject — heaps per
    * partition then a k-row driver merge, never a global sort. The
    * customer/nation decoration broadcasts into the k surviving
    * rows AFTER the limit. */
  def returnedCustomers(spark: SparkSession, dir: String,
                        from: String = "1997-07-01",
                        until: String = "1997-10-01",
                        k: Int = 20): DataFrame = {
    import org.apache.spark.sql.types.TimestampNTZType
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(from).cast(TimestampNTZType) &&
        col("o_orderdate") < lit(until).cast(TimestampNTZType))
      .select(col("o_orderkey"), col("o_custkey"))
    val ranked = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast(Tables.Money) -
          round(col("l_extendedprice").cast(Tables.Money) *
            col("l_discount").cast(Tables.Money), 2)).as("net_dec"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_returned_lines"),
        (sum(col("net_dec")) * 100).cast("long").as("returned_cents"))
      .orderBy(col("returned_cents").desc, col("o_custkey"))
      .limit(k)
    ranked
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        .join(Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"),
          col("n_name").as("nation_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("nation_name"),
        col("n_returned_lines"), col("returned_cents"))
      .orderBy(col("returned_cents").desc, col("c_custkey"))
  }

  def returnedCustomersSql(from: String = "1997-07-01",
                           until: String = "1997-10-01",
                           k: Int = 20): String =
    s"""WITH ranked AS (
       |  SELECT o_custkey,
       |    CAST(COUNT(*) AS BIGINT) AS n_returned_lines,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) -
       |      ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |        CAST(l_discount AS DECIMAL(18,2)), 2)) * 100 AS BIGINT)
       |      AS returned_cents
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_returnflag = 'R'
       |    AND o_orderdate >= TIMESTAMP '$from 00:00:00'
       |    AND o_orderdate < TIMESTAMP '$until 00:00:00'
       |  GROUP BY 1
       |  ORDER BY returned_cents DESC, o_custkey LIMIT $k)
       |SELECT c_custkey, c_name, n_name AS nation_name,
       |  n_returned_lines, returned_cents
       |FROM ranked
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |ORDER BY returned_cents DESC, c_custkey""".stripMargin

  /** j21: NATION-PAIR TRADE FLOWS — the TPC-H Q7 topology: net
    * revenue flowing from each SUPPLIER nation to each CUSTOMER
    * nation per ship year (the bilateral-volume matrix). Both dim
    * chains are broadcast decorations (supplier + nation on the fact
    * side, customer + nation on the order side), so the only
    * data-sized exchange is fact⋈orders on the orderkey hash and the
    * final aggregate is |nations|²·|years|-bounded. */
  def tradeFlows(spark: SparkSession, dir: String): DataFrame = {
    // the fact⋈orders exchange carries the INT nationkeys (guide §2.3
    // narrower types): nation names are unique, so grouping by key is
    // injective and the two ~12-char strings decorate the
    // |nations|²·|years| aggregate output via 25-row broadcasts instead
    // of riding every fact row through the shuffle
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    val supp = broadcast(Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey")))
    val cust = broadcast(Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey")))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("ship_year"),
        (col("l_extendedprice").cast(Tables.Money) -
          round(col("l_extendedprice").cast(Tables.Money) *
            col("l_discount").cast(Tables.Money), 2)).as("net_dec"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("s_nationkey"), col("c_nationkey"), col("ship_year"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("net_dec")) * 100).cast("long").as("volume_cents"))
      .join(broadcast(nat.select(col("n_nationkey"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(nat.select(col("n_nationkey").as("cn_key"),
        col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cn_key"))
      .select(col("supp_nation"), col("cust_nation"), col("ship_year"),
        col("n_lines"), col("volume_cents"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
  }

  val tradeFlowsSql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) -
      |    ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      CAST(l_discount AS DECIMAL(18,2)), 2)) * 100 AS BIGINT)
      |    AS volume_cents
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  /** j22: PREDICATE-BAND REVENUE — the TPC-H Q19 topology: revenue
    * from a DISJUNCTION of (brand, quantity-band, size-band)
    * conjunctions, reported per band. The OR-of-ANDs is the planner
    * test: the part-side conjuncts prune the BROADCAST dim before the
    * join and the quantity bounds stay on the raw fact column (the
    * union of bands pushes as one OR range). Per-band attribution is
    * a CASE label, so one scan serves all three bands. */
  def bandRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = broadcast(Tables.part(spark, dir)
      .filter((col("p_brand") === "Brand#1" && col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15)))
      .select(col("p_partkey"), col("p_brand")))
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        (col("l_extendedprice").cast(Tables.Money) -
          round(col("l_extendedprice").cast(Tables.Money) *
            col("l_discount").cast(Tables.Money), 2)).as("net_dec"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .filter((col("p_brand") === "Brand#1" && col("qty").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("qty").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("qty").between(20, 30)))
      .groupBy(col("p_brand").as("band"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("net_dec")) * 100).cast("long").as("revenue_cents"))
      .orderBy(col("band"))
  }

  val bandRevenueSql: String =
    """SELECT p_brand AS band,
      |  CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) -
      |    ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      CAST(l_discount AS DECIMAL(18,2)), 2)) * 100 AS BIGINT)
      |    AS revenue_cents
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
      |        AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
      |        AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
      |        AND l_quantity BETWEEN 20 AND 30)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** a45: DISCOUNT-REVENUE PROBE — the TPC-H Q6 topology: the pure
    * scan-and-aggregate "what would dropping these discounts have
    * earned" probe. The whole query is ONE pruned fact scan collapsed
    * map-side to a single row — every predicate (ship year, discount
    * band, quantity cap) sits on a raw parquet column and reaches the
    * reader as a PushedFilter; the only exchange is the 1-row final
    * merge. The sum is the exact per-line rounded discount (the
    * discount_amount convention), never float·float. */
  def forecastRevenue(spark: SparkSession, dir: String,
                      year: Int = 1997): DataFrame = {
    import org.apache.spark.sql.types.TimestampNTZType
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(s"$year-01-01").cast(TimestampNTZType) &&
        col("l_shipdate") < lit(s"${year + 1}-01-01").cast(TimestampNTZType) &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_lines"),
        (sum(round(col("l_extendedprice").cast(Tables.Money) *
          col("l_discount").cast(Tables.Money), 2)) * 100).cast("long")
          .as("discount_cents"))
  }

  def forecastRevenueSql(year: Int = 1997): String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |    CAST(l_discount AS DECIMAL(18,2)), 2)) * 100 AS BIGINT)
       |    AS discount_cents
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '$year-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '${year + 1}-01-01 00:00:00'
       |  AND l_discount >= 0.05 AND l_discount <= 0.07
       |  AND l_quantity < 24""".stripMargin

  /** j23: ORDER-COUNT DISTRIBUTION — the TPC-H Q13 topology: how many
    * customers placed exactly k qualifying orders, k = 0 INCLUDED —
    * the outer join is the whole point (an inner join silently drops
    * the never-ordered customers, the segment a marketing query most
    * wants). Decorrelated the way Catalyst lowers it: orders collapse
    * to (custkey, count) FIRST (map-side combinable, the only
    * data-sized exchange), customers LEFT-join that co-keyed
    * aggregate, and the second aggregate is bounded by the max
    * per-customer order count — a few dozen rows forever. The
    * priority exclusion sits on a raw parquet column and reaches the
    * scan. */
  def orderCountHistogram(spark: SparkSession, dir: String,
                          excludePriority: String = "5-LOW"): DataFrame = {
    val oc = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= excludePriority)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"))
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(oc, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("cnt"), lit(0L)).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_custs"))
      .orderBy(col("n_custs").desc, col("n_orders").desc)
  }

  def orderCountHistogramSql(excludePriority: String = "5-LOW"): String =
    s"""WITH oc AS (
       |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM orders WHERE o_orderpriority <> '$excludePriority'
       |  GROUP BY 1)
       |SELECT COALESCE(cnt, 0) AS n_orders,
       |  CAST(COUNT(*) AS BIGINT) AS n_custs
       |FROM customer LEFT JOIN oc ON c_custkey = o_custkey
       |GROUP BY 1
       |ORDER BY n_custs DESC, n_orders DESC""".stripMargin

  /** j24: PRODUCT-LINE PROFIT — the TPC-H Q9 topology: supply-side
    * profit per (supplier nation, ship year) for ONE product line.
    * Three dimension legs meet the fact with three different
    * physical shapes, each the right one for its cardinality class:
    * the part filter is a LEFT SEMI join on the partkey hash (the
    * fact needs existence, not columns — semi keeps the build side
    * key-only and never duplicates fact rows; at 100 TB part scales
    * with the corpus, so this is a data-sized exchange the planner
    * can also turn into a bloom-filter pushdown), the supplier dim
    * is decorated with its nation BROADCAST-side (nation is
    * kilobytes forever) and meets the fact on the suppkey hash, and
    * the final aggregate is |nations|×|years|-bounded. */
  def profitByNation(spark: SparkSession, dir: String,
                     productType: String = "ECONOMY"): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_type") === productType)
      .select(col("p_partkey"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation_name"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("ship_year"),
        (col("l_extendedprice").cast(Tables.Money) -
          round(col("l_extendedprice").cast(Tables.Money) *
            col("l_discount").cast(Tables.Money), 2)).as("net_dec"))
      .join(p, col("l_partkey") === col("p_partkey"), "left_semi")
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation_name"), col("ship_year"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("net_dec")) * 100).cast("long").as("profit_cents"))
      .orderBy(col("nation_name"), col("ship_year").desc)
  }

  def profitByNationSql(productType: String = "ECONOMY"): String =
    s"""SELECT n_name AS nation_name,
       |  CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       |  CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) -
       |    ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |      CAST(l_discount AS DECIMAL(18,2)), 2)) * 100 AS BIGINT)
       |    AS profit_cents
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE EXISTS (SELECT 1 FROM part
       |              WHERE p_partkey = l_partkey
       |                AND p_type = '$productType')
       |GROUP BY 1, 2
       |ORDER BY nation_name, ship_year DESC""".stripMargin

  /** j25: ASSORTMENT CHURN — per store, how many SKUs were dropped,
    * added, and retained between two calendar years. The SEMANTICS are
    * the set-operation topology (EXCEPT / INTERSECT over the per-year
    * distinct (store, sku) sets — the oracle SQL below keeps that exact
    * algebra as the independent recompute), but the PLAN is the
    * two-exchange membership form: the r13 shape paid five wide ops
    * (2 distinct + 2 EXCEPT-as-anti-join + 1 INTERSECT-as-semi-join,
    * each re-shuffling (store, sku)) where one pass suffices. Here the
    * two year-pruned fact scans ([[Tables.salesInRange]]) union with a
    * year-membership tag, ONE hash aggregate on (store, sku) folds the
    * tags to per-pair membership flags (map-side combinable — partial
    * max() collapses each scan partition to its distinct pairs before
    * the exchange), and ONE store-keyed aggregate turns the flags into
    * the three conditional counters. Every store with any sale in
    * either year appears, zero-filled — identical output, oracle
    * unchanged. */
  def assortmentChurn(spark: SparkSession, dir: String,
                      y1: Int = 1996, y2: Int = 1997): DataFrame = {
    def tagged(y: Int, in1: Int, in2: Int) =
      Tables.salesInRange(spark, dir, s"$y-01-01", s"$y-12-31")
        .select(col("store_id"), col("sku"),
          lit(in1).as("in1"), lit(in2).as("in2"))
    tagged(y1, 1, 0).unionAll(tagged(y2, 0, 1))
      .groupBy(col("store_id"), col("sku"))
      .agg(max(col("in1")).as("in1"), max(col("in2")).as("in2"))
      .groupBy(col("store_id"))
      .agg(
        coalesce(sum(when(col("in1") === 1 && col("in2") === 0, 1L)),
          lit(0L)).as("n_dropped"),
        coalesce(sum(when(col("in1") === 0 && col("in2") === 1, 1L)),
          lit(0L)).as("n_added"),
        coalesce(sum(when(col("in1") === 1 && col("in2") === 1, 1L)),
          lit(0L)).as("n_retained"))
      .orderBy(col("store_id"))
  }

  def assortmentChurnSql(y1: Int = 1996, y2: Int = 1997): String =
    s"""WITH s AS (${Tables.salesSql}),
       |a AS (SELECT DISTINCT store_id, sku FROM s
       |      WHERE sale_date BETWEEN '$y1-01-01' AND '$y1-12-31'),
       |b AS (SELECT DISTINCT store_id, sku FROM s
       |      WHERE sale_date BETWEEN '$y2-01-01' AND '$y2-12-31'),
       |d AS (SELECT store_id, CAST(COUNT(*) AS BIGINT) AS n_dropped
       |      FROM (SELECT * FROM a EXCEPT SELECT * FROM b) GROUP BY 1),
       |ad AS (SELECT store_id, CAST(COUNT(*) AS BIGINT) AS n_added
       |      FROM (SELECT * FROM b EXCEPT SELECT * FROM a) GROUP BY 1),
       |r AS (SELECT store_id, CAST(COUNT(*) AS BIGINT) AS n_retained
       |      FROM (SELECT * FROM a INTERSECT SELECT * FROM b) GROUP BY 1)
       |SELECT store_id,
       |  COALESCE(n_dropped, 0) AS n_dropped,
       |  COALESCE(n_added, 0) AS n_added,
       |  COALESCE(n_retained, 0) AS n_retained
       |FROM d
       |FULL JOIN ad USING (store_id)
       |FULL JOIN r USING (store_id)
       |ORDER BY store_id""".stripMargin

  /** j26: DEMAND SURPLUS — the MULTISET set-op (`exceptAll` ≡ SQL
    * EXCEPT ALL, bag semantics no distinct-based rewrite can fake):
    * per (store, sku), the year-1 sale-line occurrences that have no
    * year-2 counterpart — Σ max(0, c₁ − c₂) per store — the "demand
    * cooling" bag difference. Spark plans exceptAll as a
    * count-and-replicate rewrite (sum of signed per-key counts, then
    * generate), keyed on (store, sku) — two hash aggregates, no
    * sorts, map-side combinable. */
  def demandSurplus(spark: SparkSession, dir: String,
                    y1: Int = 1996, y2: Int = 1997): DataFrame = {
    def bag(y: Int) =
      Tables.salesInRange(spark, dir, s"$y-01-01", s"$y-12-31")
        .select(col("store_id"), col("sku"))
    bag(y1).exceptAll(bag(y2))
      .groupBy(col("store_id"))
      .agg(count(lit(1)).as("surplus_lines"),
        countDistinct(col("sku")).as("n_skus"))
      .orderBy(col("store_id"))
  }

  /** j27: MIN-COST SUPPLIER — the TPC-H Q2 topology on the lineitem
    * bridge (this lake has no partsupp; observed trade is the cost
    * book): per part, the supplier with the lowest average unit price,
    * rolled up to how many parts each nation's suppliers win. The
    * correlated MIN subquery decorrelates the way Catalyst lowers Q2:
    * a per-(part, supplier) price aggregate (integer milli-cents — DIV,
    * no float average), the per-part minimum joined back CO-KEYED on
    * the partkey hash (the join adds no exchange beyond the
    * aggregate's), ties broken deterministically at min suppkey, and a
    * |nations|-bounded rollup through the broadcast-decorated supplier
    * dim. */
  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    // one partkey-keyed exchange feeds BOTH aggregates (hash(l_partkey)
    // satisfies the (partkey, suppkey) clustering too), and the min-back
    // self-join collapses to a lexicographic min(struct): (min avg,
    // then min suppkey among the avg ties) — exactly the old
    // join-back + min(l_suppkey) tiebreak, in one aggregate
    val ps = Tables.lineitem(spark, dir)
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(((sum(col("l_extendedprice").cast(Tables.Money)) * 100000)
        .cast("long")).as("price_milli_sum"),
        count(lit(1)).as("n_lines"))
      .select(col("l_partkey"), col("l_suppkey"),
        expr("price_milli_sum div n_lines").as("avg_milli"))
    val winners = ps
      .groupBy(col("l_partkey"))
      .agg(min(struct(col("avg_milli"), col("l_suppkey"))).as("w"))
      .select(col("l_partkey"), col("w.l_suppkey").as("win_suppkey"),
        col("w.avg_milli").as("win_milli"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation_name"))
    winners
      .join(supp, col("win_suppkey") === col("s_suppkey"))
      .groupBy(col("nation_name"))
      .agg(count(lit(1)).as("n_parts_won"),
        sum(col("win_milli")).cast("long").as("total_win_milli"))
      .orderBy(col("nation_name"))
  }

  /** j28: NULL-SAFE RECONCILIATION — the null-equality semantic no
    * other key exercises: return categories where 'N' (no return)
    * maps to NULL (`nullif`), reconciled across two years per
    * supplier with a FULL join whose category leg is NULL-SAFE
    * (`<=>` ≡ SQL `IS NOT DISTINCT FROM`) — a plain `=` silently
    * drops every NULL-category group from the match and double-counts
    * it on both outer sides, the classic reconciliation bug. Both
    * sides pre-aggregate to (supplier, category) before the join
    * (dimension-bounded), year predicates prune the scans. */
  def nullSafeRecon(spark: SparkSession, dir: String,
                    y1: Int = 1996, y2: Int = 1997): DataFrame = {
    import org.apache.spark.sql.types.TimestampNTZType
    def side(y: Int, cnt: String, sk: String, cat: String) =
      Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= lit(s"$y-01-01").cast(TimestampNTZType) &&
          col("l_shipdate") < lit(s"${y + 1}-01-01").cast(TimestampNTZType))
        .select(col("l_suppkey").as(sk),
          nullif(col("l_returnflag"), lit("N")).as(cat))
        .groupBy(col(sk), col(cat))
        .agg(count(lit(1)).as(cnt))
    val a = side(y1, "n_y1", "sk1", "cat1")
    val b = side(y2, "n_y2", "sk2", "cat2")
    a.join(b, col("sk1") === col("sk2") && col("cat1") <=> col("cat2"),
        "full")
      .select(coalesce(col("sk1"), col("sk2")).as("suppkey"),
        coalesce(col("cat1"), col("cat2")).as("category"),
        coalesce(col("n_y1"), lit(0L)).as("n_y1"),
        coalesce(col("n_y2"), lit(0L)).as("n_y2"))
      .withColumn("delta_lines", col("n_y2") - col("n_y1"))
      .orderBy(col("suppkey"), col("category"))
  }

  def nullSafeReconSql(y1: Int = 1996, y2: Int = 1997): String =
    s"""WITH a AS (
       |  SELECT l_suppkey AS sk1, nullif(l_returnflag, 'N') AS cat1,
       |    CAST(COUNT(*) AS BIGINT) AS n_y1
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '$y1-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '${y1 + 1}-01-01 00:00:00'
       |  GROUP BY 1, 2),
       |b AS (
       |  SELECT l_suppkey AS sk2, nullif(l_returnflag, 'N') AS cat2,
       |    CAST(COUNT(*) AS BIGINT) AS n_y2
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '$y2-01-01 00:00:00'
       |    AND l_shipdate < TIMESTAMP '${y2 + 1}-01-01 00:00:00'
       |  GROUP BY 1, 2)
       |SELECT COALESCE(sk1, sk2) AS suppkey,
       |  COALESCE(cat1, cat2) AS category,
       |  COALESCE(n_y1, 0) AS n_y1,
       |  COALESCE(n_y2, 0) AS n_y2,
       |  COALESCE(n_y2, 0) - COALESCE(n_y1, 0) AS delta_lines
       |FROM a FULL JOIN b
       |  ON sk1 = sk2 AND cat1 IS NOT DISTINCT FROM cat2
       |ORDER BY suppkey, category""".stripMargin

  val minCostSupplierSql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100000
      |      AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS avg_milli
      |  FROM lineitem GROUP BY 1, 2),
      |mins AS (
      |  SELECT l_partkey AS pk, MIN(avg_milli) AS min_milli
      |  FROM ps GROUP BY 1),
      |winners AS (
      |  SELECT ps.l_partkey,
      |    MIN(ps.l_suppkey) AS win_suppkey,
      |    MIN(ps.avg_milli) AS win_milli
      |  FROM ps JOIN mins ON ps.l_partkey = mins.pk
      |    AND ps.avg_milli = mins.min_milli
      |  GROUP BY 1)
      |SELECT n_name AS nation_name,
      |  CAST(COUNT(*) AS BIGINT) AS n_parts_won,
      |  CAST(SUM(win_milli) AS BIGINT) AS total_win_milli
      |FROM winners
      |JOIN supplier ON win_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY 1
      |ORDER BY nation_name""".stripMargin

  def demandSurplusSql(y1: Int = 1996, y2: Int = 1997): String =
    s"""WITH s AS (${Tables.salesSql}),
       |a AS (SELECT store_id, sku FROM s
       |      WHERE sale_date BETWEEN '$y1-01-01' AND '$y1-12-31'),
       |b AS (SELECT store_id, sku FROM s
       |      WHERE sale_date BETWEEN '$y2-01-01' AND '$y2-12-31')
       |SELECT store_id,
       |  CAST(COUNT(*) AS BIGINT) AS surplus_lines,
       |  CAST(COUNT(DISTINCT sku) AS BIGINT) AS n_skus
       |FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** j29: SUPPLIERS WHO KEPT ORDERS WAITING — the TPC-H Q21 topology,
    * the one join class the j-family hadn't exercised: TWO CORRELATED
    * EXISTENTIAL LEGS against the same fact table. For finished
    * (`o_orderstatus = 'F'`) orders, count per supplier the orders
    * where THIS supplier shipped late (ship lag > `lagDays` after the
    * order date — the testdata lineitem has no receipt/commit dates,
    * so ship-lag-vs-orderdate is the lateness rubric), ANOTHER
    * supplier participated in the order (`EXISTS`, → LeftSemi), and
    * NO other supplier was also late (`NOT EXISTS`, → LeftAnti).
    *
    * Written as SQL with genuinely CORRELATED subqueries (the anti leg
    * even carries the non-equality outer reference `o_orderdate`) so
    * the plan goes through Catalyst's RewritePredicateSubquery /
    * DecorrelateInnerQuery lowering rather than hand-built joins —
    * both legs decorrelate to orderkey-keyed semi/anti joins that ride
    * the SAME orderkey exchange as the fact-orders join
    * (StarShapeSpec gates the exchange count). Q21's LIMIT 100 is
    * dropped: the supplier dimension is the group key, so the full
    * ordered relation is the deterministic oracle surface. */
  def waitingSuppliers(spark: SparkSession, dir: String,
                       lagDays: Int = 90): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("j29_lineitem")
    Tables.orders(spark, dir).createOrReplaceTempView("j29_orders")
    Tables.supplier(spark, dir).createOrReplaceTempView("j29_supplier")
    val df = spark.sql(
      s"""SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
         |FROM j29_supplier
         |JOIN j29_lineitem l1 ON s_suppkey = l1.l_suppkey
         |JOIN j29_orders ON o_orderkey = l1.l_orderkey
         |WHERE o_orderstatus = 'F'
         |  AND l1.l_shipdate > o_orderdate + INTERVAL $lagDays DAYS
         |  AND EXISTS (
         |    SELECT 1 FROM j29_lineitem l2
         |    WHERE l2.l_orderkey = l1.l_orderkey
         |      AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (
         |    SELECT 1 FROM j29_lineitem l3
         |    WHERE l3.l_orderkey = l1.l_orderkey
         |      AND l3.l_suppkey <> l1.l_suppkey
         |      AND l3.l_shipdate > o_orderdate + INTERVAL $lagDays DAYS)
         |GROUP BY s_name
         |ORDER BY numwait DESC, s_name""".stripMargin)
    // the analyzed plan holds the resolved relations; the views were
    // only a parse-time vehicle for the correlated-subquery syntax
    Seq("j29_lineitem", "j29_orders", "j29_supplier")
      .foreach(spark.catalog.dropTempView(_))
    df
  }

  def waitingSuppliersSql(lagDays: Int = 90): String =
    s"""SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
       |FROM supplier
       |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
       |JOIN orders ON o_orderkey = l1.l_orderkey
       |WHERE o_orderstatus = 'F'
       |  AND l1.l_shipdate > o_orderdate + INTERVAL $lagDays DAYS
       |  AND EXISTS (
       |    SELECT 1 FROM lineitem l2
       |    WHERE l2.l_orderkey = l1.l_orderkey
       |      AND l2.l_suppkey <> l1.l_suppkey)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM lineitem l3
       |    WHERE l3.l_orderkey = l1.l_orderkey
       |      AND l3.l_suppkey <> l1.l_suppkey
       |      AND l3.l_shipdate > o_orderdate + INTERVAL $lagDays DAYS)
       |GROUP BY s_name
       |ORDER BY numwait DESC, s_name""".stripMargin

  /** j30: EXCESS-STOCK SUPPLIERS — the TPC-H Q20 topology, the last
    * decorrelation shape the j-family hadn't exercised: a SEMI JOIN
    * (`IN` on supplier) whose inner relation filters a part-supplier
    * aggregate through a CORRELATED SCALAR SUBQUERY on the fact table
    * (Q20's "half of the quantity shipped" rule; here inverted to the
    * excess-stock calibration `availqty > 2 × shipped-in-year`, which
    * selects the tail at every gate SF). The partsupp stand-in is the
    * synthesized (partkey, suppkey) quantity rollup — the same move as
    * j27's Q2 shape, since the testdata carries no partsupp table.
    *
    * Written as SQL with the correlation GENUINE (like j29) so the
    * plan goes through Catalyst's scalar-subquery decorrelation
    * (PullupCorrelatedPredicates → an aggregate joined on exactly the
    * (l_partkey, l_suppkey) key of the outer aggregate): both sums
    * ride the SAME partkey-suppkey exchange, the part-name prefix
    * filter arrives as a broadcast semi leg, and the supplier output
    * leg is dimension-sized — never a row-sized anti-join
    * (StarShapeSpec gates the shape). An empty correlated sum yields
    * NULL → predicate unknown → excluded, the Q20 semantics both
    * engines share. */
  def excessStockSuppliers(spark: SparkSession, dir: String,
                           prefix: String = "red", regionKey: Int = 1,
                           year: Int = 1997): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("j30_lineitem")
    Tables.part(spark, dir).createOrReplaceTempView("j30_part")
    Tables.supplier(spark, dir).createOrReplaceTempView("j30_supplier")
    Tables.nation(spark, dir).createOrReplaceTempView("j30_nation")
    val df = spark.sql(
      s"""WITH avail AS (
         |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         |    CAST(SUM(l_quantity) AS BIGINT) AS availqty
         |  FROM j30_lineitem GROUP BY 1, 2)
         |SELECT s_suppkey, s_name
         |FROM j30_supplier JOIN j30_nation ON s_nationkey = n_nationkey
         |WHERE n_regionkey = $regionKey
         |  AND s_suppkey IN (
         |    SELECT ps_suppkey FROM avail
         |    WHERE ps_partkey IN (
         |        SELECT p_partkey FROM j30_part WHERE p_name LIKE '$prefix%')
         |      AND availqty > 2 * (
         |        SELECT CAST(SUM(l_quantity) AS BIGINT) FROM j30_lineitem
         |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
         |          AND l_shipdate >= TIMESTAMP_NTZ '$year-01-01 00:00:00'
         |          AND l_shipdate < TIMESTAMP_NTZ '${year + 1}-01-01 00:00:00'))
         |ORDER BY s_suppkey""".stripMargin)
    Seq("j30_lineitem", "j30_part", "j30_supplier", "j30_nation")
      .foreach(spark.catalog.dropTempView(_))
    df
  }

  def excessStockSuppliersSql(prefix: String = "red", regionKey: Int = 1,
                              year: Int = 1997): String =
    s"""WITH avail AS (
       |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
       |    CAST(SUM(l_quantity) AS BIGINT) AS availqty
       |  FROM lineitem GROUP BY 1, 2)
       |SELECT s_suppkey, s_name
       |FROM supplier JOIN nation ON s_nationkey = n_nationkey
       |WHERE n_regionkey = $regionKey
       |  AND s_suppkey IN (
       |    SELECT ps_suppkey FROM avail
       |    WHERE ps_partkey IN (
       |        SELECT p_partkey FROM part WHERE p_name LIKE '$prefix%')
       |      AND availqty > 2 * (
       |        SELECT CAST(SUM(l_quantity) AS BIGINT) FROM lineitem
       |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
       |          AND l_shipdate >= TIMESTAMP '$year-01-01 00:00:00'
       |          AND l_shipdate < TIMESTAMP '${year + 1}-01-01 00:00:00'))
       |ORDER BY s_suppkey""".stripMargin

  /** j31: IMPORTANT-STOCK PARTS — the TPC-H Q11 topology: a grouped
    * aggregate HAVING-filtered against a GLOBAL SCALAR computed over
    * the same relation. Per-part value (integer cents, decimal-exact)
    * over one region's suppliers, keeping parts whose value exceeds
    * 2× the AVERAGE part value — Q11's `> fraction × total` restated
    * scale-stably (`value × n_parts > total × 2` in pure 64-bit
    * integers: a fixed fraction returns everything at small SF and
    * nothing at large SF as the part dimension grows, the exact
    * reason Q11 parameterizes its fraction by SF).
    *
    * Shape: the supplier/nation legs are broadcast dims decorating the
    * fact scan; ONE hash aggregate to part grain, materialized ONCE as
    * a plan leaf (localCheckpoint — the IndexStore probe discipline:
    * a self-referencing DAG otherwise duplicates the whole fact
    * subtree into both branches of the cross join); the global scalar
    * is a 1-row aggregate of that part-grain leaf CROSS-broadcast
    * back — the fact table is scanned exactly once by construction. */
  def importantStockParts(spark: SparkSession, dir: String,
                          regionKey: Int = 1): DataFrame = {
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .filter(col("n_regionkey") === regionKey)
          .select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val ps = Tables.lineitem(spark, dir)
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg((sum(col("l_extendedprice").cast(Tables.Money)) * 100)
        .cast("long").as("value_cents"))
      .localCheckpoint()
    val tot = ps.agg(sum(col("value_cents")).as("total_cents"),
      count(lit(1)).as("n_parts"))
    ps.crossJoin(broadcast(tot))
      .filter(col("value_cents") * col("n_parts") > col("total_cents") * 2)
      .select(col("l_partkey").as("partkey"), col("value_cents"))
      .orderBy(col("value_cents").desc, col("partkey").asc)
  }

  def importantStockPartsSql(regionKey: Int = 1): String =
    s"""WITH sup AS (
       |  SELECT s_suppkey FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE n_regionkey = $regionKey),
       |ps AS (
       |  SELECT l_partkey,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
       |      AS value_cents
       |  FROM lineitem JOIN sup ON l_suppkey = s_suppkey
       |  GROUP BY 1),
       |tot AS (
       |  SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents,
       |    CAST(COUNT(*) AS BIGINT) AS n_parts FROM ps)
       |SELECT l_partkey AS partkey, value_cents
       |FROM ps CROSS JOIN tot
       |WHERE value_cents * n_parts > total_cents * 2
       |ORDER BY value_cents DESC, partkey ASC""".stripMargin

  /** j32: PRIORITY SHIPPING CLASSES — the TPC-H Q12 topology: a
    * fact-fact join (lineitem ⋈ orders on orderkey) under a category
    * IN-filter and a one-year date window, grouped by the lineitem
    * category with TWO CONDITIONAL COUNTS over the joined-in order
    * attribute (urgent/high vs the rest — Q12's CASE-sum pair). The
    * testdata carries no l_shipmode/commit/receipt dates, so the
    * return flag stands in for the ship mode and the ship-date year
    * for the receipt window; the topology — selective fact filter
    * first, orderkey-keyed shuffle join, tiny grouped output — is
    * Q12's exactly, and at scale the pre-join filter (flag + year)
    * is what keeps the shuffle small. */
  def priorityShipClasses(spark: SparkSession, dir: String,
                          year: Int = 1997): DataFrame = {
    import org.apache.spark.sql.types.TimestampNTZType
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag").isin("A", "R") &&
        col("l_shipdate") >= lit(s"$year-01-01").cast(TimestampNTZType) &&
        col("l_shipdate") < lit(s"${year + 1}-01-01").cast(TimestampNTZType))
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag").as("return_class"))
      .agg(sum(when(hi, 1L).otherwise(0L)).cast("long").as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).cast("long").as("low_line_count"))
      .orderBy(col("return_class"))
  }

  def priorityShipClassesSql(year: Int = 1997): String =
    s"""SELECT l_returnflag AS return_class,
       |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
       |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE l_returnflag IN ('A', 'R')
       |  AND l_shipdate >= TIMESTAMP '$year-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '${year + 1}-01-01 00:00:00'
       |GROUP BY 1
       |ORDER BY return_class""".stripMargin

  /** j33: DRILL-ACROSS — the galaxy-schema operator the §2.4 join
    * inventory still lacked: TWO FACT TABLES (the order lake and the
    * behavioral event stream) co-aggregated to a CONFORMED dimension
    * grain (customer × day) and full-outer stitched into one panel —
    * the Kimball "drill across separate fact tables on conformed
    * dimensions" pattern, never a fact-to-fact row join. Per customer
    * the readout is the engagement↔spend profile: day counts on each
    * side and their overlap, totals, and the exact-moment Pearson
    * correlation between daily event count and daily order spend over
    * the joint panel (zero-filled), read off the integer moments in
    * the k5 divide-early double form — ONE identical IEEE expression
    * per row, so the double column hash-matches across engines;
    * zero-variance panels yield NULL, never 0/0.
    *
    * Scale shape: each fact aggregates INDEPENDENTLY to its
    * (key, day) grain first (map-side combinable, dimension×days
    * output), so the full-outer stitch and everything after is
    * panel-sized — the whole point of drill-across at 100 TB: the two
    * fact scans never meet at row grain. One (k, d) exchange family
    * carries the stitch and the per-key moment agg. */
  def drillAcross(spark: SparkSession, dir: String): DataFrame = {
    val dec18 = org.apache.spark.sql.types.DecimalType(18, 0)
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey").as("k"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"),
        (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          * 100).cast(dec18).as("c"))
      .groupBy(col("k"), col("d"))
      .agg(sum(col("c")).cast(dec18).as("y_c"),
        count(lit(1)).as("n_ord"))
    val e = Tables.events(spark, dir)
      .select(col("user_id").as("k"),
        date_format(col("ts"), "yyyy-MM-dd").as("d"))
      .groupBy(col("k"), col("d")).agg(count(lit(1)).as("x_n"))
    val p = o.join(e, Seq("k", "d"), "full_outer")
      .select(col("k"),
        coalesce(col("x_n"), lit(0L)).as("x"),
        coalesce(col("y_c"), lit(0).cast(dec18)).as("y"),
        coalesce(col("n_ord"), lit(0L)).as("n_ord"))
    val m = p.groupBy(col("k")).agg(
      count(lit(1)).as("n_days"),
      sum(when(col("n_ord") > 0 && col("x") > 0, 1L).otherwise(0L))
        .as("n_days_both"),
      sum(when(col("n_ord") > 0, 1L).otherwise(0L)).as("n_days_orders"),
      sum(when(col("x") > 0, 1L).otherwise(0L)).as("n_days_events"),
      sum(col("n_ord")).as("n_orders"),
      sum(col("x")).as("n_events"),
      sum(col("y")).as("spend_c"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x").cast(dec18) * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    def d(c: String) = col(c).cast("double")
    val nD = col("n_days").cast("double")
    val varx = d("sxx") - d("n_events") * d("n_events") / nD
    val vary = d("syy") - d("spend_c") * d("spend_c") / nD
    val cov = d("sxy") - d("n_events") * d("spend_c") / nD
    m.select(col("k").as("custkey"), col("n_days"), col("n_days_orders"),
        col("n_days_events"), col("n_days_both"), col("n_orders"),
        col("n_events"), col("spend_c").cast("long").as("spend_c"),
        when(varx === 0.0 || vary === 0.0, lit(null).cast("double"))
          .otherwise(cov / sqrt(varx * vary)).as("corr"))
      .orderBy(col("custkey"))
  }

  def drillAcrossSql(): String =
    s"""WITH o AS (
       |  SELECT o_custkey AS k, strftime(o_orderdate, '%Y-%m-%d') AS d,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
       |      AS DECIMAL(18,0)) AS y_c,
       |    CAST(COUNT(*) AS BIGINT) AS n_ord
       |  FROM orders GROUP BY 1, 2),
       |e AS (
       |  SELECT user_id AS k, strftime(ts, '%Y-%m-%d') AS d,
       |    CAST(COUNT(*) AS BIGINT) AS x_n
       |  FROM events GROUP BY 1, 2),
       |p AS (
       |  SELECT k, COALESCE(x_n, 0) AS x,
       |    COALESCE(y_c, CAST(0 AS DECIMAL(18,0))) AS y,
       |    COALESCE(n_ord, 0) AS n_ord
       |  FROM o FULL OUTER JOIN e USING (k, d)),
       |m AS (
       |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_days,
       |    CAST(SUM(CASE WHEN n_ord > 0 AND x > 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_days_both,
       |    CAST(SUM(CASE WHEN n_ord > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_days_orders,
       |    CAST(SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_days_events,
       |    CAST(SUM(n_ord) AS BIGINT) AS n_orders,
       |    CAST(SUM(x) AS BIGINT) AS n_events,
       |    CAST(SUM(y) AS HUGEINT) AS spend_c,
       |    CAST(SUM(x * x) AS HUGEINT) AS sxx,
       |    CAST(SUM(x * y) AS HUGEINT) AS sxy,
       |    CAST(SUM(y * y) AS HUGEINT) AS syy
       |  FROM p GROUP BY 1)
       |SELECT k AS custkey, n_days, n_days_orders, n_days_events,
       |  n_days_both, n_orders, n_events, CAST(spend_c AS BIGINT) AS spend_c,
       |  CASE WHEN (CAST(sxx AS DOUBLE) - CAST(n_events AS DOUBLE)
       |      * CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE)) = 0.0
       |    OR (CAST(syy AS DOUBLE) - CAST(spend_c AS DOUBLE)
       |      * CAST(spend_c AS DOUBLE) / CAST(n_days AS DOUBLE)) = 0.0
       |    THEN NULL
       |    ELSE (CAST(sxy AS DOUBLE) - CAST(n_events AS DOUBLE)
       |      * CAST(spend_c AS DOUBLE) / CAST(n_days AS DOUBLE))
       |      / SQRT((CAST(sxx AS DOUBLE) - CAST(n_events AS DOUBLE)
       |        * CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE))
       |        * (CAST(syy AS DOUBLE) - CAST(spend_c AS DOUBLE)
       |          * CAST(spend_c AS DOUBLE) / CAST(n_days AS DOUBLE)))
       |  END AS corr
       |FROM m
       |ORDER BY custkey""".stripMargin
}
