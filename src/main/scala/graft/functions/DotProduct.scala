package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext

/** Native Catalyst dot product Σ x·y over two `array<float|double>`
  * columns, IEEE-identical to `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, +)`
  * (see [[ArrayPairSum]]).
  */
case class DotProduct(left: Expression, right: Expression) extends ArrayPairSum {
  override def prettyName: String = "graft_dot"
  protected def sumName: String = "dotSum"
  protected def term(x: Double, y: Double): Double = x * y
  protected def addTerm(ctx: CodegenContext, sum: String, x: String, y: String): String =
    s"$sum += $x * $y;"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

object DotProduct {
  def build(exprs: Seq[Expression]): Expression = DotProduct(exprs(0), exprs(1))
}
