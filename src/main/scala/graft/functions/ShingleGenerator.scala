package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst Generator (the UDTF v2 path of SURVEY §2.K3): emits
  * `(pos, shingle)` rows of n-word shingles from a text column — the
  * row-generating primitive under the MinHash pipeline, without the
  * intermediate array materialization that `split` + `transform` +
  * `posexplode` builds per row.
  *
  * Generators run inside GenerateExec; CodegenFallback keeps the
  * surrounding stage codegen'd while this node evaluates interpreted
  * (the per-row work is string slicing — not the bottleneck).
  */
case class ShingleGenerator(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("shingle", StringType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      val toks = v.asInstanceOf[UTF8String].toString.split(" ")
      if (toks.length < n) Nil
      else (0 to toks.length - n).map { i =>
        InternalRow(i, UTF8String.fromString(toks.slice(i, i + n).mkString(" ")))
      }
    }
  }

  override def prettyName: String = "graft_shingles"
  override protected def withNewChildInternal(c: Expression): ShingleGenerator =
    copy(child = c)
}
