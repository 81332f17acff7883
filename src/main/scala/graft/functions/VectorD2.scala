package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Native codegen'd squared-L2 distance of two `array<float>` columns, in
  * double precision, strictly left-to-right — bit-identical to the
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, _+_)` fold it
  * replaces (each element is widened to double BEFORE the subtract, the
  * square is a multiply, and partials accumulate in index order), but one
  * fused JIT'd loop per row inside WholeStageCodegen instead of two
  * interpreted higher-order-function passes. This is the PQ encode hot
  * path ([[graft.vector.Similarity.pqCodes]]): nSub × nCodes sub-distances
  * per vector — at 100 TB the encode pass is the index build, and an
  * interpreted per-element lambda there is the difference between
  * scan-speed and 10× scan time. The sibling of [[VectorDot]]: the same
  * [[VectorFold]] with a diff-square term instead of a product. */
case class VectorD2(left: Expression, right: Expression) extends VectorFold {

  override protected def term(a: Double, b: Double): Double = {
    val d = a - b
    d * d
  }

  override protected def termCode(a: String, b: String): String =
    s"($a - $b) * ($a - $b)"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vector_d2"
}

object VectorD2 {
  /** Column-API entry point (no registry needed). */
  def vectorD2(x: Column, y: Column): Column =
    ColumnBridge.column(
      VectorD2(ColumnBridge.expression(x), ColumnBridge.expression(y)))
}
