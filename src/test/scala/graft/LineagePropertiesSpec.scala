package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck properties of the column-lineage walker over GENERATED
  * pipelines (random compositions of project / filter / aggregate /
  * join / window / union over two parquet leaves) — the walker must
  * stay sound whatever plan shape Catalyst hands it:
  *   1. every reported source is a real scan-leaf column (or the
  *      literal sentinel) — no invented provenance;
  *   2. every output column is reported — no silent gaps;
  *   3. the relation is deterministic per plan.
  * Analysis-only (lineage never executes the plan), so cases are
  * cheap. */
class LineagePropertiesSpec extends AnyFunSuite {

  private def checkProp(p: Prop, cases: Int = 12): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(res.passed, res.status.toString)
  }

  private lazy val spark = GraftSpec.session

  private lazy val base: String = {
    import spark.implicits._
    val tmp = graft.etl.Scratch.tempDir("lineage-prop")
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "x")
      .write.parquet(s"$tmp/alpha.parquet")
    Seq((1L, 5L), (2L, 6L)).toDF("id", "y")
      .write.parquet(s"$tmp/beta.parquet")
    tmp
  }

  private val validSrc = Set(
    ("alpha", "id"), ("alpha", "x"), ("beta", "id"), ("beta", "y"),
    (graft.plans.ColumnLineage.LiteralSrc,
      graft.plans.ColumnLineage.LiteralSrc))

  /** Apply one generated op; `id` is never dropped so later ops can
    * always key on it. */
  private def applyOp(df: DataFrame, code: Int, i: Int): DataFrame =
    code match {
      case 0 => df.withColumn(s"lit_$i", lit(i))
      case 1 => df.withColumn(s"inc_$i", col(df.columns.last) + 1)
      case 2 => df.filter(col("id").isNotNull)
      case 3 => df.groupBy(col("id"))
        .agg(count(lit(1)).as(s"n_$i"),
          max(col(df.columns.last)).as(s"mx_$i"))
      case 4 => df.join(
        spark.read.parquet(s"$base/beta.parquet")
          .withColumnRenamed("y", s"y_$i"), Seq("id"))
      case 5 => df.withColumn(s"rk_$i",
        row_number().over(
          Window.partitionBy(col("id")).orderBy(col(df.columns.last))))
      case _ => df.unionByName(df)
    }

  private val genOps: Gen[List[Int]] =
    Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, Gen.choose(0, 6)))

  test("lineage walker: sound sources, complete outputs, deterministic " +
      "over generated project/filter/agg/join/window/union pipelines") {
    val alpha = spark.read.parquet(s"$base/alpha.parquet")
    checkProp(Prop.forAll(genOps) { ops =>
      val df = ops.zipWithIndex.foldLeft(alpha) {
        case (d, (code, i)) => applyOp(d, code, i)
      }
      val lin = graft.plans.ColumnLineage.lineageOf(df).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
      val sound = lin.forall { case (_, t, c) => validSrc((t, c)) }
      val complete = df.columns.toSet == lin.map(_._1).toSet
      val deterministic = graft.plans.ColumnLineage.lineageOf(df).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSeq == lin
      sound && complete && deterministic
    })
  }
}
