package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst dot product over two `array<float>` columns.
  *
  * Why it exists: the vector queries' portable form is
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, +)` — higher-order
  * functions are evaluated through interpreted lambda machinery and
  * break whole-stage codegen, and `zip_with` materializes the product
  * array before the fold. This expression inlines a primitive loop into
  * the stage's generated Java: no intermediate array, no closure
  * dispatch per element — the difference between scanning an embedding
  * lake at memory bandwidth and at interpreter speed at 100 TB.
  *
  * Semantics are IEEE-identical to the HOF form: per-element
  * (double)x*(double)y products accumulated left-to-right (null
  * elements skipped; embeddings carry none). Each input is
  * `array<float>` (the embedding wire type) or `array<double>` (the
  * centroid/codebook type — 6-dp-rounded means are doubles, and
  * narrowing them to float would change the dot versus the SQL oracle).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot needs array<float|double> inputs, got " +
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
        s += xv * yv
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("dotSum")
      def get(arr: String, isFloat: Boolean) =
        if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += ${get(a, leftFloat)} * ${get(b, rightFloat)};
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

object DotProduct {
  def build(exprs: Seq[Expression]): Expression = DotProduct(exprs(0), exprs(1))
}
