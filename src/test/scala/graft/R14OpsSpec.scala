package graft

import org.apache.spark.sql.functions._

/** Round-14 operator pins: a70's restated close — the mid-generation
  * states the end-to-end hash cannot see (correction-BEFORE: the late
  * slice is genuinely absent from the persisted generations; correction-
  * AFTER: the fold of the late delivery lands the golds exactly on the
  * corrected recompute), plus the re-delivery no-op legs. */
class R14OpsSpec extends GraftSpec {

  private val dir = sfDir

  test("a70 correction-before: generation-1 persists WITHOUT the late " +
      "slice (an on-time-only recompute, strictly different from the " +
      "corrected facts) — and the fixture's correction targets an " +
      "already-closed day") {
    import graft.etl.DayClose
    DayClose.restatedClose(spark, dir).count() // force all three closes
    val root = DayClose.a70Closes(spark, dir).root
    val sales = graft.model.Tables.sales(spark, dir)
    val late = pmod(col("l_orderkey"), lit(DayClose.LateMod)) ===
      lit(DayClose.LateRes) && col("sale_date") <= DayClose.Close2
    // the correction is real: late rows dated in the FIRST closed period
    assert(sales.filter(late && col("sale_date") <= DayClose.Close1)
      .count() > 0, "fixture needs a correction to a close-1 day")
    def rollOf(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("store_id"), substring(col("sale_date"), 1, 7).as("month"))
      .agg(sum(col("line_total")).cast("string").as("g"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1),
        BigDecimal(r.getString(2)), r.getLong(3))).toSet
    val gen1 = spark.read.parquet(s"$root/roll1")
      .groupBy("store_id", "month")
      .agg(sum(col("gross_dec")).cast("string").as("g"),
        sum(col("n_lines")).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1),
        BigDecimal(r.getString(2)), r.getLong(3))).toSet
    val upTo = sales.filter(col("sale_date") <= DayClose.Close2)
    // gen-1 == on-time-only recompute; != the corrected recompute
    assert(gen1 === rollOf(upTo.filter(!late)))
    assert(gen1 !== rollOf(upTo), "the late slice must be absent pre-close-2")
  }

  test("k29: version-pinned readers see each lake generation exactly — " +
      "v1 is the small-file lake, v2 the packed one, identical row " +
      "population, gen-1 bytes intact after the swap") {
    import graft.etl.LakeApply
    val out = LakeApply.atomicRewrite(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.nonEmpty)
    def stats(version: Option[Int]) = LakeApply.k29Lake(spark, dir, version)
      .select(col("part_month"), col("store_id"), col("sale_date"),
        col("l_orderkey"), col("l_linenumber"),
        col("_metadata.file_path").as("fp"))
      .collect()
    val v1 = stats(Some(1))
    val v2 = stats(None)
    def perPart(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(r => (r.getString(0), r.getString(1)))
    // v1 == the small-file generation: one file per sale_date, and its
    // file count is exactly the measured files_before
    perPart(v1).foreach { case (k, rs) =>
      val nFiles = rs.map(_.getString(5)).distinct.length
      assert(nFiles === rs.map(_.getString(2)).distinct.length,
        s"$k: small-file grain must be one file per date")
      assert(nFiles.toLong === out(k)._1, s"$k: files_before mismatch")
    }
    // v2 == the packed generation: measured files_after/rows_total,
    // strictly fewer files somewhere (the pack is not vacuous)
    perPart(v2).foreach { case (k, rs) =>
      assert(rs.map(_.getString(5)).distinct.length.toLong === out(k)._2,
        s"$k: files_after mismatch")
      assert(rs.length.toLong === out(k)._3, s"$k: rows_total mismatch")
    }
    assert(out.values.exists { case (b, a, _) => a < b })
    // identical row population across the swap — never torn
    def ids(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(3), r.get(4).toString)).sorted.toSeq
    assert(ids(v1) === ids(v2))
    // time travel intact: gen-1 bytes still on disk after the swap
    val lakeDir = LakeApply.k29Dir(spark, dir)._1
    assert(graft.model.AtomicManifest.listFiles(lakeDir, "gen1").nonEmpty)
  }

  test("grouped Lloyd: the rebalance's sub-centroid silver is " +
      "bit-identical to a sequential per-cell ivfTrainFrom replay " +
      "(the one-job-per-iteration trainer changes scheduling, never " +
      "arithmetic)") {
    import graft.vector.{IndexCompaction, Lloyd}
    IndexCompaction.rebalanceApplied(spark, dir).count()
    val indexDir = IndexCompaction.foldedIndex(spark, dir, 8).root
    val silver = spark.read.parquet(
        graft.model.OracleSilver.dirFor("split_subcents_8", dir))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](3).toSeq)
      .toMap
    assert(silver.nonEmpty, "fixture must split at least one cell")
    val cells = spark.read.parquet(s"$indexDir/cells")
      .select(col("vec_id"), col("cell").cast("int").as("cell"))
    val e = graft.model.Tables.embeddings(spark, dir)
    silver.keys.map(_._1).toSeq.distinct.foreach { c =>
      val members = e.join(
        cells.filter(col("cell") === c).select("vec_id"), Seq("vec_id"))
      val init = members.orderBy(col("vec_id").asc).limit(2)
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val seq = Lloyd.ivfTrainFrom(members, init, IndexCompaction.SubIters)
      seq.zipWithIndex.foreach { case (ce, s) =>
        assert(silver((c, s)) === ce.map(_.toFloat).toSeq,
          s"cell $c sub $s diverged from the sequential fit")
      }
    }
  }

  test("a70 correction-after: the folded golds equal full recompute on " +
      "the corrected facts, and both re-delivery legs are measured " +
      "no-ops") {
    import graft.etl.DayClose
    val out = DayClose.restatedClose(spark, dir)
    val sales = graft.model.Tables.sales(spark, dir)
    // rollup gold: fold-through-generations == direct recompute
    val goldN = out.filter(col("component") === "rollup" &&
        col("metric") === "n_lines")
      .collect().map(r => (r.getString(1), r.getString(2),
        r.getDouble(4).toLong)).toSet
    val directN = sales
      .groupBy(col("store_id"), substring(col("sale_date"), 1, 7).as("month"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(goldN === directN)
    // distinct gold == COUNT(DISTINCT) over corrected facts
    val goldD = out.filter(col("component") === "distinct")
      .collect().map(r => r.getString(1) -> r.getDouble(4).toLong).toMap
    val directD = sales.groupBy(col("store_id"))
      .agg(countDistinct(col("sku")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(goldD === directD)
    // re-delivery no-ops: every dedup doc non-novel, every vector
    // present exactly once — all probe values are 1.0
    val probes = out.filter(col("key2") === "redelivered").collect()
    assert(probes.nonEmpty)
    assert(probes.forall(_.getDouble(4) == 1.0),
      "a re-delivered close must append nothing")
  }
}
