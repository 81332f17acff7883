package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf
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
    * and row bytes it holds, measured by one pass over its blocks — for
    * a lazy checkpoint, the pass that fills them — and, when it is small
    * enough, with its one partition.
    *
    * A checkpoint otherwise carries the optimizer's ESTIMATE for the plan
    * it was cut from — join estimates are products of their sides — and
    * consumer joins lose their broadcast; a loaded columnar cache reports
    * measured statistics the same way.
    *
    * A leaf whose RDD has exactly one partition and whose measured bytes
    * are at most [[singlePartitionBytes]] states `SinglePartition`, which
    * is true by construction and costs no job. EnsureRequirements then
    * adds no exchange under an aggregate, window or global sort over it,
    * nor under a sort-merge join of two such leaves, so a consumer runs
    * as one stage. Any other leaf states what its checkpoint stated. */
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
    val partitioning =
      if (r.rdd.getNumPartitions == 1 && bytes <= singlePartitionBytes(spark)) SinglePartition
      else r.outputPartitioning
    org.apache.spark.sql.classic.Dataset.ofRows(spark,
      LogicalRDD(r.output, r.rdd, partitioning, r.outputOrdering, r.isStreaming,
        r.stream)(spark, Some(stats), Some(r.constraints)))
  }

  /** The size at or below which AQE's `CoalesceShufflePartitions` turns
    * any shuffle into one partition, read from the session (never set
    * here); 0 when it coalesces nothing. Its target partition size is
    * `max(min(total / parallelism, advisory), minPartitionSize)` with
    * `parallelismFirst`, and `max(min(total, advisory), minPartitionSize)`
    * without. A shuffle of `total` bytes therefore lands in one partition
    * whenever `total` is at most `minPartitionSize` or, without
    * `parallelismFirst`, the advisory size. */
  private def singlePartitionBytes(spark: ClassicSession): Long = {
    val conf = spark.sessionState.conf
    val minSize = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled) 0L
    else if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) minSize
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES).max(minSize)
  }
}
