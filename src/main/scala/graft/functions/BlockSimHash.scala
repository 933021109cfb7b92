package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 60-bit block-SimHash signature: `graft_block_simhash(text,
  * n_chars)` ≡ the Multimodal.phashSignatures pipeline for ONE document —
  * md5 per 64-char block (code-point substring, UTF-8 bytes, exactly the
  * SQL `md5(cast(substring(text, i*64+1, 64) as binary))`), then per hex
  * position j ∈ 1..30 two sign-sums over blocks (nibble ≥ 8 → the
  * "hi" bit, nibble odd → the "lo" bit), positive sum ⇒ bit set at
  * (j−1)·2 / (j−1)·2+1 (optimization round 16).
  *
  * Why it exists: the portable form EXPLODES one md5 row per block and
  * folds 60 conditional substring/isin aggregates in a corpus-wide
  * groupBy — the whole signature pass is one exchange plus 60 aggregate
  * expressions per block row. Per document the computation is a bounded
  * local loop, so a per-row expression removes the explode, the shuffle
  * and the aggregate machinery entirely; the signature pass becomes a map
  * over the corpus scan. Block COUNT comes from the `n_chars` column
  * (faithful to the original, which sized the block sequence from
  * `n_chars`, not from the text value); a block index past the text's end
  * hashes the empty byte string, exactly like the SQL substring chain.
  *
  * Round7Spec independently recomputes signatures with driver-side
  * MessageDigest md5 and pins this builder against them.
  */
case class BlockSimHash(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_block_simhash needs (string, bigint), got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(text: Any, nChars: Any): Any =
    BlockSimHash.compute(text.asInstanceOf[UTF8String],
      nChars.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n) =>
      s"${ev.value} = graft.functions.BlockSimHash.compute($t, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BlockSimHash =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_block_simhash"
}

object BlockSimHash {
  /** Per-document block-SimHash; called from generated code. */
  def compute(text: UTF8String, nChars: Long): Long = {
    val nBlocks = ((nChars + 63L) / 64L).toInt
    val md = java.security.MessageDigest.getInstance("MD5")
    // sign sums for hex positions 1..30, hi and lo interleaved
    val sums = new Array[Int](60)
    var i = 0
    while (i < nBlocks) {
      // code-point substring, same semantics as SQL substring(text, p, 64);
      // past-the-end indices yield the empty string (md5 of zero bytes)
      val block = text.substringSQL(i * 64 + 1, 64)
      val digest = md.digest(block.getBytes) // md.digest resets the digest
      var j = 0
      while (j < 30) {
        // hex position j+1 of the 32-char hex rendering: even positions
        // are the byte's high nibble, odd the low nibble
        val b = digest(j / 2) & 0xff
        val nib = if (j % 2 == 0) b >>> 4 else b & 0xf
        sums(j * 2) += (if (nib >= 8) 1 else -1)
        sums(j * 2 + 1) += (if ((nib & 1) == 1) 1 else -1)
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 60) {
      if (sums(k) > 0) sig |= 1L << k
      k += 1
    }
    sig
  }
}
