package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst fold over the element pairs of two `array<float|double>`
  * columns: Σ term(x_i, y_i), the shared body of [[DotProduct]] and
  * [[SquaredL2]].
  *
  * Why it exists: the vector queries' portable forms are
  * `aggregate(zip_with(a, b, (x,y) -> <term>), 0d, +)` — higher-order
  * functions are evaluated through interpreted lambda machinery, break
  * whole-stage codegen, and `zip_with` materializes the term array before
  * the fold. This expression inlines a primitive loop into the stage's
  * generated Java: no intermediate array, no closure dispatch per element
  * — the difference between scanning an embedding lake at memory
  * bandwidth and at interpreter speed at 100 TB.
  *
  * Semantics are IEEE-identical to the HOF form: each element is widened
  * to double, the per-pair terms are accumulated left-to-right from 0.0,
  * null elements are skipped and the longer input is truncated to the
  * shorter. Each input is `array<float>` (the embedding wire type) or
  * `array<double>` (the centroid/codebook type — 6-dp-rounded means are
  * doubles, and narrowing them to float would change the result versus
  * the SQL oracle).
  */
abstract class ArrayPairSum extends BinaryExpression {

  /** Fresh-name prefix of the generated accumulator. */
  protected def sumName: String

  /** One pair's term, interpreted. */
  protected def term(x: Double, y: Double): Double

  /** Java statements adding one pair's term (`x`, `y`: double expressions)
    * to the accumulator `sum`; the same arithmetic as [[term]].
    */
  protected def addTerm(ctx: CodegenContext, sum: String, x: String, y: String): String

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) =
      PartialFunction.cond(e.dataType) { case ArrayType(FloatType | DoubleType, _) => true }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float|double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  private def floats(e: Expression) = e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val leftFloat = floats(left)
  @transient private lazy val rightFloat = floats(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += term(
        if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i),
        if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName(sumName)
      def get(arr: String, isFloat: Boolean) =
        if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    ${addTerm(ctx, s, get(a, leftFloat), get(b, rightFloat))}
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
}
