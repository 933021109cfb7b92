package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native codegen'd bit-interleave for Z-ORDER (Morton) data layout:
  * `graft_zorder16(a, b)` interleaves the low 16 bits of two keys into one
  * 32-bit curve position. Sorting/range-partitioning a table by this value
  * co-locates rows that are close in EITHER key, so min/max zone maps
  * (parquet row-group stats) prune scans filtered on either dimension —
  * the multi-dimensional clustering trick behind Delta/Iceberg Z-ORDER,
  * here as a first-class Catalyst expression: whole-stage codegen inlines
  * the static call, no UDF boundary on the layout-write hot path.
  */
case class ZOrder16(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrder16.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ZOrder16.interleave($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder16 =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_zorder16"
}

object ZOrder16 {
  /** Bit-interleave the low 16 bits: a → even positions, b → odd. */
  def interleave(a: Long, b: Long): Long = {
    var r = 0L
    var i = 0
    while (i < 16) {
      r |= ((a >> i) & 1L) << (2 * i) | ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    r
  }
}
