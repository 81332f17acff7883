package graft

import graft.etl.Skew
import graft.model.Tables
import org.apache.spark.sql.functions._

/** Salted operators must be value-equivalent to their unsalted forms. */
class SkewSpec extends GraftSpec {

  test("salted two-phase sum equals direct groupBy sum") {
    val sales = Tables.sales(spark, sfDir)
    val salted = Skew.saltedSum(sales,
      col("store_id"), col("l_orderkey"), salts = 8,
      (sum(col("line_total")), "gross"), (count(lit(1)).cast("long"), "n"))
    val direct = sales.groupBy(col("store_id").as("key"))
      .agg(sum(col("line_total")).as("gross"), count(lit(1)).as("n"))
    assert(salted.count() === direct.count())
    assert(salted.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(salted).count() === 0)
  }

  test("salted join equals plain join") {
    val sales = Tables.sales(spark, sfDir).select("store_id", "sku", "quantity", "l_orderkey")
    val dim = graft.etl.Completeness.expectedStores(spark, sfDir)
      .withColumn("region_tag", concat(lit("R"), col("store_id").substr(4, 1)))
    val plain = sales.join(dim, Seq("store_id"))
      .select("store_id", "sku", "quantity", "region_tag")
    val salted = Skew.saltedJoin(sales, dim, "store_id",
      spreader = col("l_orderkey"), salts = 8)
      .select("store_id", "sku", "quantity", "region_tag")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
  }

  test("salt actually spreads a hot key across buckets") {
    val hot = Tables.sales(spark, sfDir).filter(col("store_id") === "0001")
    val buckets = hot.select(Skew.saltCol(col("l_orderkey"), 8).as("s"))
      .distinct().count()
    assert(buckets >= 6, s"expected near-uniform salt spread, got $buckets/8 buckets")
  }

  test("k4: range-clustered layout audits at 0 overlaps; round-robin " +
    "layout at n-1; counts conserve") {
    import org.apache.spark.sql.functions._
    val src = graft.model.Tables.sales(spark, sfDir)
      .select(col("sale_date"), col("sku"))
    val base = graft.etl.Scratch.tempDir("k4audit")
    val nFiles = 4
    // same rows, two physical layouts
    src.repartitionByRange(nFiles, col("sale_date"))
      .write.mode("overwrite").parquet(s"$base/clustered")
    src.repartition(nFiles).write.mode("overwrite").parquet(s"$base/rr")
    def audit(path: String) = graft.analytics.Profile.clusteringAuditOf(
      spark.read.parquet(path), "sale_date").collect()
    val good = audit(s"$base/clustered")
    val bad = audit(s"$base/rr")
    assert(good.length === nFiles && bad.length === nFiles)
    assert(good.map(_.getAs[Long]("n_rows")).sum === src.count())
    assert(bad.map(_.getAs[Long]("n_rows")).sum === src.count())
    // range partitioning can place one boundary date's rows in two files;
    // overlap stays far below round-robin's full n-1
    assert(good.map(_.getAs[Long]("n_overlaps")).max <= 1L,
      "range-clustered files must be (nearly) disjoint")
    // round-robin: every file spans the full date range -> all overlap
    bad.foreach(r => assert(r.getAs[Long]("n_overlaps") === (nFiles - 1).toLong))
    // the audit orders the shared span correctly
    bad.foreach { r =>
      assert(r.getAs[String]("min_v") <= r.getAs[String]("max_v"))
    }
  }

  test("k6: Morton layout bounds BOTH dims structurally; linear only one; " +
    "round-robin neither") {
    import org.apache.spark.sql.functions._
    val rows = graft.analytics.Profile.zorderAudit(spark, sfDir).collect()
      .map(r => (r.getAs[String]("layout"), r.getAs[String]("dim")) ->
        r.getAs[Long]("avg_span_milli")).toMap
    assert(rows.size === 6)
    // STRUCTURAL Morton bounds (hold for any data): a 2048-wide z block
    // fixes all but 6 x-bits (even positions 0..10) and 5 y-bits (odd
    // positions 1..9), so per-file spans cannot exceed 64 / 32.
    assert(rows(("zorder", "x")) <= 64000L)
    assert(rows(("zorder", "y")) <= 32000L)
    // the single-dim sort: perfect on x (8-wide files), unbounded on y
    // (>=: at sf0.001 the y DOMAIN is narrower than a Morton block's
    // 32-value y capacity, so both layouts bottom out at the domain span)
    assert(rows(("linear_x", "x")) <= 8000L)
    assert(rows(("linear_x", "y")) >= rows(("zorder", "y")),
      "a linear sort must not beat z-order on the unsorted dim")
    // ingest order clusters neither dim: never better than z-order, and
    // strictly worse on x (the x domain always exceeds a z block's 64)
    assert(rows(("roundrobin", "x")) > rows(("zorder", "x")))
    assert(rows(("roundrobin", "y")) >= rows(("zorder", "y")))
  }

  test("j8: the salted join is a shuffled join (broadcast would make " +
    "salting a no-op) and matches the unsalted result") {
    import org.apache.spark.sql.functions._
    val salted = graft.analytics.Profile.saltedJoin(spark, sfDir)
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      "the shuffle_hash hint must hold — salting demonstrates the " +
        "skew remedy only on a shuffled join")
    assert(!plan.contains("BroadcastHashJoin"))
    // salting is a physical rewrite: per-brand results must be identical
    val plain = graft.model.Tables.lineitem(spark, sfDir)
      .join(graft.model.Tables.part(spark, sfDir),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_extendedprice").cast(graft.model.Tables.Money))
          .cast("double").as("revenue"))
    val diff = salted.join(plain.withColumnRenamed("n_lines", "pn")
        .withColumnRenamed("revenue", "pr"), "p_brand")
      .filter(col("n_lines") =!= col("pn") || col("revenue") =!= col("pr"))
    assert(diff.count() === 0)
    assert(salted.count() === plain.count())
  }

  test("k8: predicted join cardinalities equal the actual join row counts") {
    import org.apache.spark.sql.functions._
    import graft.model.Tables
    val pred = graft.analytics.Profile.joinCardinality(spark, sfDir)
      .collect().map(r =>
        r.getAs[String]("join_name") -> r.getAs[Long]("predicted_rows")).toMap
    val li = Tables.lineitem(spark, sfDir)
    val actual = Map(
      "lineitem_orders" -> li.join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey")).count(),
      "lineitem_part" -> li.join(Tables.part(spark, sfDir),
        col("l_partkey") === col("p_partkey")).count(),
      "lineitem_supplier" -> li.join(Tables.supplier(spark, sfDir),
        col("l_suppkey") === col("s_suppkey")).count())
    actual.foreach { case (name, n) =>
      assert(pred(name) === n, s"$name: prediction must be exact")
    }
  }
}
