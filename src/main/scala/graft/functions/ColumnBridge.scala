package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Classic-mode Column <-> catalyst Expression bridge. Spark 4 moved these
  * helpers behind `private[sql]` (`org.apache.spark.sql.classic.
  * ExpressionUtils`); a subpackage of `org.apache.spark.sql` is the
  * sanctioned way for libraries extending Catalyst to reach them — the
  * only non-`graft` package in this repo, kept to four forwarders. */
object ColumnBridge {
  /** The classic session behind `spark` and, when `plan` is given, that
    * plan as a checkpointed `LogicalRDD` leaf — the forms the private
    * APIs below exist for. Anything else (a Connect session, a leaf that
    * is not a `LogicalRDD`) fails here, saying what is required, instead
    * of surfacing later as a bare `ClassCastException`. */
  private def classic(spark: SparkSession, plan: Option[LogicalPlan])
  : (ClassicSession, Option[LogicalRDD]) = (spark, plan) match {
    case (s: ClassicSession, None) => (s, None)
    case (s: ClassicSession, Some(r: LogicalRDD)) => (s, Some(r))
    case (s, p) => throw new IllegalArgumentException(
      "ColumnBridge needs a classic (non-Connect) SparkSession" +
        p.fold("")(_ => " and a checkpointed LogicalRDD leaf") +
        s"; got ${s.getClass.getName}" + p.fold("")(l => s" over a ${l.nodeName} plan"))
  }

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `SparkSession.internalCreateDataFrame` forwarder: lets GlobalRank
    * re-enter SQL from an `RDD[InternalRow]` without the external-Row
    * round-trip (`Dataset.rdd` deserializes every row to `Row` and
    * `createDataFrame` re-encodes it — two per-row closure passes that
    * whole-stage codegen can never touch, guide §4 step 2). */
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
                              schema: StructType): DataFrame =
    classic(spark, None)._1.internalCreateDataFrame(rdd, schema)

  /** `leaf` (a checkpointed `LogicalRDD`) re-stated with the row count
    * and row bytes it holds, measured by one pass over its stored
    * blocks. A checkpoint otherwise carries the optimizer's ESTIMATE
    * for the plan it was cut from — join estimates are products of
    * their sides — and consumer joins lose their broadcast; a loaded
    * columnar cache reports measured statistics the same way. */
  def withMeasuredStats(leaf: DataFrame): DataFrame = {
    val (spark, Some(r)) = classic(leaf.sparkSession, Some(leaf.queryExecution.logical))
    val rowBytes = r.schema.defaultSize.toLong
    val (rows, bytes) = r.rdd
      .map {
        case u: UnsafeRow => (1L, u.getSizeInBytes.toLong)
        case _ => (1L, rowBytes)
      }
      .fold((0L, 0L)) { case ((n1, b1), (n2, b2)) => (n1 + n2, b1 + b2) }
    val stats = Statistics(sizeInBytes = bytes.max(1L), rowCount = Some(rows))
    org.apache.spark.sql.classic.Dataset.ofRows(spark,
      LogicalRDD(r.output, r.rdd, r.outputPartitioning, r.outputOrdering, r.isStreaming,
        r.stream)(spark, Some(stats), Some(r.constraints)))
  }
}
