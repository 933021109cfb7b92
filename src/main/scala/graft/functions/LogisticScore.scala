package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the logistic score
  * `1 / (1 + exp(-(x - μ) / σ))` — the codegen'd v2 path for SURVEY §2.K1
  * (the v1 contract surface is the black-box Scala UDF in Scalars.udfScore).
  *
  * Unlike a Scala UDF this participates in whole-stage codegen: no
  * serialization boundary, no closure call per row — the generated Java is
  * inlined into the stage loop.
  */
case class LogisticScore(child: Expression, mu: Double, sigma: Double)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(v: Any): Any =
    1.0 / (1.0 + math.exp(-(v.asInstanceOf[Double] - mu) / sigma))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"1.0 / (1.0 + java.lang.Math.exp(-(($c) - ${mu}D) / ${sigma}D))")

  override protected def withNewChildInternal(newChild: Expression): LogisticScore =
    copy(child = newChild)

  override def prettyName: String = "graft_logistic"
}

object LogisticScore {
  /** Builder shared by the `logistic` column and the `graft_logistic`
    * SQL extension: input coerced to double
    * (AbstractDataType/ExpectsInputTypes are private[sql] in Spark 4, so
    * coercion is explicit here instead).
    */
  def build(exprs: Seq[Expression]): Expression =
    LogisticScore(Cast(exprs.head, DoubleType), 100000.0, 50000.0)
}

/** Session extension wiring (SparkSessionExtensions) so a user can opt in
  * with `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions` — the standard
  * deployment path on a shared cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_logistic"),
      new ExpressionInfo(classOf[LogisticScore].getName, "graft_logistic"),
      (exprs: Seq[Expression]) => LogisticScore.build(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct.build(exprs)))
  }
}
