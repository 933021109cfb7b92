package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native adjacent-character-pair extractor: `graft_char_pairs(w)` ≡
  * `transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))`
  * (optimization round 16). The portable HOF form pays a lambda dispatch
  * plus a `sequence` array per word; the BPE census runs it over every
  * character of the corpus, so the interpreter overhead IS the pass. One
  * code-point walk per word, `substringSQL` slices (the exact semantics
  * of the SQL `substring` the HOF form used), inlined into the scan's
  * generated code.
  *
  * NULL input → NULL; a word shorter than 2 code points → empty array
  * (same as `sequence(1, 0)` → empty).
  */
case class CharPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_char_pairs needs a string input, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    CharPairs.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.CharPairs.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): CharPairs =
    copy(child = newChild)

  override def prettyName: String = "graft_char_pairs"
}

object CharPairs {
  /** Code-point pair walk; called from generated code. */
  def compute(w: UTF8String): ArrayData = {
    val n = w.numChars()
    if (n < 2) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](n - 1)
      var i = 0
      while (i < n - 1) {
        // substringSQL is 1-based and code-point-exact — the same
        // semantics as the SQL substring(w, i, 2) this replaces
        out(i) = w.substringSQL(i + 1, 2)
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}
