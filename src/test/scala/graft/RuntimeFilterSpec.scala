package graft

import org.apache.spark.sql.functions._

/** Runtime-filter posture: the two Catalyst mechanisms that cut scan
  * volume at 100 TB before a row is read — DYNAMIC PARTITION PRUNING
  * (a dim filter reaching a partitioned fact scan as a runtime
  * partition filter) and INJECTED BLOOM FILTERS (a selective
  * non-partition join probing the fact side pre-shuffle) — asserted
  * against real physical plans over a real partitioned lake, so the
  * library's recommended lake layout (hive-partitioned by store, the
  * ingest sink's shape) is PROVEN to compose with Catalyst's runtime
  * pruning, not assumed to. */
class RuntimeFilterSpec extends GraftSpec {

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private lazy val lakeDir: String = {
    val dir = graft.etl.Scratch.tempDir("dpp-lake")
    graft.model.Tables.sales(spark, sfDir)
      .write.mode("overwrite").partitionBy("store_id").parquet(dir)
    dir
  }

  test("dynamic partition pruning: a selective dim filter reaches the " +
      "partitioned fact scan as a runtime partition filter") {
    withConf(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" ->
        "false",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" ->
        "10.0") {
      // declare store_id as string: partition-value inference would
      // read "0020" back as the integer 20 (the LakeApply gotcha)
      val full = org.apache.spark.sql.types.StructType(
        graft.model.Tables.sales(spark, sfDir).schema
          .filterNot(_.name == "store_id"))
        .add("store_id", org.apache.spark.sql.types.StringType)
      val fact = spark.read.schema(full).parquet(lakeDir)
      val dim = graft.model.Tables.supplier(spark, sfDir)
        .select(format_string("%04d", col("s_suppkey")).as("store_id"),
          col("s_nationkey"))
        .filter(col("s_nationkey") === 3)
      val q = fact.join(dim, Seq("store_id"))
        .groupBy(col("store_id")).agg(sum(col("quantity")).as("qty"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no dynamic partition pruning in:\n$plan")
      // and the pruned result is still correct vs the static-filter plan
      val expect = graft.model.Tables.sales(spark, sfDir)
        .join(dim, Seq("store_id"))
        .groupBy(col("store_id")).agg(sum(col("quantity")).as("qty"))
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted
      val got = q.collect().map(r => (r.getString(0), r.getLong(1))).sorted
      assert(got.nonEmpty && (got.toSeq === expect.toSeq))
    }
  }

  test("runtime bloom filter: a selective non-partition shuffle join " +
      "injects a bloom probe on the fact side") {
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" ->
        "100MB",
      "spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = graft.model.Tables.sales(spark, sfDir)
      val dim = graft.model.Tables.part(spark, sfDir)
        .filter(col("p_size") === 1).select(col("p_partkey").as("sku"))
      val q = fact.join(dim, Seq("sku")).agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no injected bloom filter in:\n$plan")
      assert(q.collect().head.getLong(0) > 0L)
    }
  }
}
