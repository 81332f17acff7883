package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Native codegen'd dot product of two `array<float>` columns, in double
  * precision, strictly left-to-right (index order) — bit-identical to the
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` higher-order-function fold
  * it replaces ([[graft.vector.Similarity]]), but one tight JIT'd loop per
  * row instead of per-element lambda dispatch, and it stays inside
  * WholeStageCodegen. This is the custom-Expression escape hatch the
  * built-ins genuinely can't match on the ANN hot path (per-pair work =
  * one fused loop over 64 floats). The loop, null contract and interpreted path are [[VectorFold]]'s. */
case class VectorDot(left: Expression, right: Expression) extends VectorFold {

  override protected def term(a: Double, b: Double): Double = a * b

  override protected def termCode(a: String, b: String): String = s"$a * $b"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vector_dot"
}

object VectorDot {
  /** Column-API entry point (no registry needed). */
  def vectorDot(x: Column, y: Column): Column =
    ColumnBridge.column(
      VectorDot(ColumnBridge.expression(x), ColumnBridge.expression(y)))
}
