package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.SparkPlan

/** Bit-parity and plan gates for the [[graft.plans.GroupTopKExec]]
  * bounded-heap top-k-per-group operator: every covered rank-filter
  * shape must produce EXACTLY the stock window plan's rows (ranks
  * included), and the rewritten plan must contain the heap operator
  * with no sort anywhere beneath it. */
class GroupTopKSpec extends GraftSpec {

  private lazy val extSpark: SparkSession = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }

  /** Deterministic synthetic relation with a TOTAL per-group order
    * (unique tiebreak id) — ranks are well-defined, so the heap and
    * window forms must agree bit-for-bit. */
  private def synth(s: SparkSession) =
    s.range(20000).select(
      (col("id") % 37).as("g"),
      ((col("id") * 2654435761L) % 1000003L).as("v"),
      col("id"))

  private def collectPlan(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => return collectPlan(a.executedPlan)
      case other => other
    }
    self +: self.children.flatMap(collectPlan)
  }

  private def topk(df: DataFrame, pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
    val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id").asc)
    df.withColumn("rn", row_number().over(w)).filter(pred(col("rn")))
  }

  test("rn <= k: heap plan fires, sorts are gone, rows match stock bit-for-bit") {
    val ext = topk(synth(extSpark), _ <= 5)
    val nodes = collectPlan(ext.queryExecution.executedPlan)
    assert(nodes.exists(_.getClass.getSimpleName == "GroupTopKExec"),
      "rewrite did not fire")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      "a sort survived the heap rewrite")
    val got = ext.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sortBy(identity)
    val want = topk(synth(spark), _ <= 5).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sortBy(identity)
    assert(got.toSeq == want.toSeq)
    // stock session must NOT have the custom node
    assert(!collectPlan(topk(synth(spark), _ <= 5).queryExecution.executedPlan)
      .exists(_.getClass.getSimpleName == "GroupTopKExec"))
  }

  test("rn < k and rn = 1 shapes fire and match stock") {
    Seq[(org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      _ < 4, _ === 1).foreach { pred =>
      val ext = topk(synth(extSpark), pred)
      assert(collectPlan(ext.queryExecution.executedPlan)
        .exists(_.getClass.getSimpleName == "GroupTopKExec"))
      val got = ext.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sortBy(identity)
      val want = topk(synth(spark), pred).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sortBy(identity)
      assert(got.toSeq == want.toSeq)
    }
  }

  test("k past the group size keeps every row with correct ranks") {
    val df = extSpark.range(40).select((col("id") % 4).as("g"), col("id").as("v"), col("id"))
    val w = Window.partitionBy(col("g")).orderBy(col("v").asc, col("id").asc)
    val out = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 1000)
    assert(collectPlan(out.queryExecution.executedPlan)
      .exists(_.getClass.getSimpleName == "GroupTopKExec"))
    assert(out.count() == 40)
    val ranks = out.collect().groupBy(_.getLong(0))
      .map { case (_, rs) => rs.map(_.getInt(3)).sorted.toSeq }
    assert(ranks.forall(_ == (1 to 10)))
  }

  test("unsupported shapes keep the stock plan (rank aggregates, extra conjuncts)") {
    val df = synth(extSpark)
    val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id").asc)
    // rank() is not row_number(): must not fire
    val r1 = df.withColumn("rn", rank().over(w)).filter(col("rn") <= 5)
    assert(!collectPlan(r1.queryExecution.executedPlan)
      .exists(_.getClass.getSimpleName == "GroupTopKExec"))
    // extra conjunct: must not fire (predicate is not the bare bound)
    val r2 = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5 && col("v") > 100)
    assert(!collectPlan(r2.queryExecution.executedPlan)
      .exists(_.getClass.getSimpleName == "GroupTopKExec"))
    // both still compute correctly under the extension session
    assert(r1.count() >= 5 * 37 && r2.count() <= 5 * 37)
  }

  test("a3-shaped real ranking: per-store-day top-5 products matches stock") {
    def shape(s: SparkSession) = {
      val sales = graft.model.Tables.sales(s, sfDir)
      val w = Window.partitionBy(col("store_id"), col("sale_date"))
        .orderBy(col("line_total").desc, col("sku").asc, col("l_orderkey").asc,
          col("l_linenumber").asc)
      sales.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select(col("store_id"), col("sale_date"), col("sku"), col("rn"))
    }
    val ext = shape(extSpark)
    assert(collectPlan(ext.queryExecution.executedPlan)
      .exists(_.getClass.getSimpleName == "GroupTopKExec"))
    val got = ext.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .sortBy(identity)
    val want = shape(spark).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
      .sortBy(identity)
    assert(got.toSeq == want.toSeq)
  }
}
