package graft

import graft.etl.{CompanyDaily, Materialize}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class MaterializeSpec extends GraftSpec {

  test("silver tables round-trip; company rollup from silver = from facts") {
    val root = tempDir("medallion")
    val paths = Materialize.writeSummaries(spark, sfDir, root.toString)
    assert(paths.size === 4)
    assert(paths.contains("payment_daily"))

    val silver = Materialize.storeDaily(spark, root.toString)
    // partition column recovered, full content preserved
    assert(silver.columns.contains("sale_date"))
    val fromFacts = graft.etl.StoreDaily.rollupDec(spark, sfDir)
    assert(silver.count() === fromFacts.count())

    val viaSilver = Materialize.companyDailyFromSilver(spark, root.toString)
      .select(col("sale_date"), col("total_sales"), col("total_transactions"))
    val direct = CompanyDaily.rollup(spark, sfDir)
      .select(col("sale_date"), col("total_sales"), col("total_transactions"))
    assert(viaSilver.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(viaSilver).count() === 0)
  }

  test("bucketed tables join without a shuffle on the bucketed side") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      Materialize.writeBucketed(spark, sfDir)
      val joined = Materialize.bucketedJoin(spark)
      val plan = joined.queryExecution.executedPlan.toString
      // the scan side feeding the join must not re-shuffle on store_id;
      // only the final orderBy may exchange (range partitioning)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges === 0, s"expected no hash exchanges, plan:\n$plan")
      assert(joined.count() > 0)
      // values correct vs unbucketed computation
      val direct = graft.etl.StoreDaily.rollupDec(spark, sfDir)
        .groupBy("store_id").agg(sum("gross_dec").cast("double").as("total_sales"))
      val cmp = joined.select("store_id", "total_sales")
        .exceptAll(direct.select("store_id", "total_sales"))
      assert(cmp.count() === 0)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("silver date-range read prunes partitions (plan contains PartitionFilters)") {
    val root = tempDir("medallion2")
    Materialize.writeSummaries(spark, sfDir, root.toString)
    val pruned = Materialize.storeDaily(spark, root.toString)
      .filter(col("sale_date").between("1998-06-01", "1998-06-30"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("partitionFilters"),
      s"expected partition filters in plan:\n$plan")
    assert(pruned.count() > 0)
  }

  test("each date-partitioned summary table holds one file per sale_date") {
    // without coalescing, the silvers keep every shuffle partition, so an
    // unclustered partitioned write leaves one file per (task, date)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val root = tempDir("medallion_files")
    Materialize.writeSummaries(s2, sfDir, root.toString)
    Seq("store_daily", "product_daily", "payment_daily").foreach { t =>
      val dates = root.resolve(t).toFile.listFiles().filter(_.getName.startsWith("sale_date="))
      assert(dates.length > 1, t)
      val perDate = dates.map(d => d.getName -> d.listFiles().count(_.getName.startsWith("part-")))
      assert(perDate.forall(_._2 == 1), s"$t: ${perDate.filter(_._2 != 1).toSeq}")
    }
  }

  test("every job writeSummaries starts carries the caller's job group") {
    val s2 = spark.newSession() // cold silvers: the builds run inside the call
    val root = tempDir("medallion_group")
    val sc = spark.sparkContext
    sc.setJobGroup("materialize-spec", "writeSummaries")
    val (_, jobs) =
      try JobLog.during(s2)(Materialize.writeSummaries(s2, sfDir, root.toString))
      finally sc.clearJobGroup()
    assert(jobs.size > 4)
    assert(jobs.forall(_.group.contains("materialize-spec")),
      s"jobs outside the caller's group: ${jobs.filterNot(_.group.contains("materialize-spec"))}")
  }

  test("a failing table write fails writeSummaries") {
    val notADir = Files.createTempFile("medallion", ".file")
    notADir.toFile.deleteOnExit()
    intercept[Exception] {
      Materialize.writeSummaries(spark, sfDir, notADir.toString)
    }
  }
}
