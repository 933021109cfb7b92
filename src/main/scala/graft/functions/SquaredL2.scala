package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst squared-L2 distance over two `array<float|double>`
  * columns — the PQ encoder's argmin kernel (optimization round 17).
  *
  * Why it exists: the portable form is
  * `aggregate(zip_with(zip_with(a, b, (x,y) -> x-y), ..., (x,y) -> x*y), 0d, +)`
  * — higher-order functions run through interpreted lambda machinery,
  * break whole-stage codegen, and materialize the difference array before
  * the fold. The PQ encode evaluates this 16 times per subvector over the
  * whole corpus, so the interpreted overhead multiplies into the build's
  * hot path (same rationale as [[DotProduct]]).
  *
  * Semantics are IEEE-identical to the HOF chain: per-element
  * (double)(x−y) difference squared, accumulated left-to-right (null
  * elements skipped; subvectors and codebook entries carry none).
  */
case class SquaredL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_l2sq needs array<float|double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  @transient private lazy val leftFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
        val d = xv - yv
        s += d * d
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("l2Sum")
      val d = ctx.freshName("diff")
      def get(arr: String, isFloat: Boolean) =
        if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $d = ${get(a, leftFloat)} - ${get(b, rightFloat)};
         |    $s += $d * $d;
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_l2sq"
}
