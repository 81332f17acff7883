package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** A native codegen'd fold of two `array<float>` columns into a double:
  * each element pair is widened to double, mapped by [[term]], and the
  * terms are summed strictly left to right (index order) from 0.0 — one
  * tight JIT'd loop per row inside WholeStageCodegen instead of
  * per-element lambda dispatch. [[VectorDot]] and [[VectorD2]] differ
  * only in the term.
  *
  * Mismatched lengths yield NULL, exactly like the
  * `aggregate(zip_with(...))` reference fold: zip_with pads the shorter
  * side with nulls and the sum propagates them. Interpreted eval
  * (codegen-disabled paths) runs the same operations in the same order. */
abstract class VectorFold extends BinaryExpression {

  /** The interpreted term of one element pair. */
  protected def term(a: Double, b: Double): Double

  /** [[term]] as a Java expression over the double locals `a` and `b`. */
  protected def termCode(a: String, b: String): String

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null
    else {
      val n = a.numElements()
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += term(a.getFloat(i).toDouble, b.getFloat(i).toDouble)
        i += 1
      }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = (double) $a.getFloat($i);
         |    double $y = (double) $b.getFloat($i);
         |    $acc += ${termCode(x, y)};
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
}
