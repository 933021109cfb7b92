package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext

/** Native Catalyst squared-L2 distance Σ (x−y)² over two
  * `array<float|double>` columns — the PQ encoder's argmin kernel
  * (optimization round 17), evaluated 16 times per subvector over the
  * whole corpus. IEEE-identical to the HOF chain
  * `aggregate(zip_with(zip_with(a, b, (x,y) -> x-y), ..., (x,y) -> x*y), 0d, +)`
  * (see [[ArrayPairSum]]).
  */
case class SquaredL2(left: Expression, right: Expression) extends ArrayPairSum {
  override def prettyName: String = "graft_l2sq"
  protected def sumName: String = "l2Sum"
  protected def term(x: Double, y: Double): Double = { val d = x - y; d * d }
  protected def addTerm(ctx: CodegenContext, sum: String, x: String, y: String): String = {
    val d = ctx.freshName("diff")
    s"double $d = $x - $y;\n    $sum += $d * $d;"
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SquaredL2 =
    copy(left = l, right = r)
}
