package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable MinHash sketch as a native aggregate (SURVEY §4 "MinHash
  * signatures for dedup at scale", v2 item): one pass over exploded
  * shingles producing k signature minima per group.
  *
  * The buffer is a k-slot array of current minima — constant size, so
  * partial aggregation (map-side combine) and AQE coalescing work exactly
  * as for built-in aggregates; at 100 TB the shuffle carries k×16 bytes per
  * document, not the shingle stream. Hashes are `md5(i + "|" + shingle)` —
  * bit-identical to the SQL formulation (and DuckDB), so results
  * hash-match the pure-SQL signature query.
  *
  * Hot-path design (VERDICT r3: the r3 version allocated a MessageDigest
  * and built a 32-char hex string per (shingle × slot) — 4.4× slower than
  * the built-in-min twin): ONE digest instance per task (the expression
  * tree is deserialized per task, so a transient lazy val is task-local),
  * minima kept as raw 16-byte arrays compared with an unsigned byte
  * comparator (md5-hex lexicographic order ≡ unsigned byte order of the
  * digest, so results are unchanged), digest emitted into a reusable
  * scratch buffer, and hex encoding happens only in `eval()`.
  */
case class MinHashSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Array[Byte]]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_minhash"

  override def createAggregationBuffer(): Array[Array[Byte]] =
    Array.fill[Array[Byte]](k)(null)

  @transient private lazy val digest = MessageDigest.getInstance("MD5")
  @transient private lazy val scratch = new Array[Byte](16)
  // per-slot prefix bytes "0|", "1|", … — ASCII, identical to the string
  // concat the SQL formulation hashes
  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(k)(i => s"$i|".getBytes("UTF-8"))

  /** a < b as unsigned 16-byte big-endian — the order md5 hex strings sort in. */
  private def lessThan(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  override def update(buf: Array[Array[Byte]], input: InternalRow): Array[Array[Byte]] = {
    val v = child.eval(input)
    if (v != null) {
      val sBytes = v.asInstanceOf[UTF8String].getBytes
      var i = 0
      while (i < k) {
        digest.reset()
        digest.update(prefixes(i))
        digest.update(sBytes)
        digest.digest(scratch, 0, 16)
        val cur = buf(i)
        if (cur == null) buf(i) = scratch.clone()
        else if (lessThan(scratch, cur)) System.arraycopy(scratch, 0, cur, 0, 16)
        i += 1
      }
    }
    buf
  }

  override def merge(a: Array[Array[Byte]], b: Array[Array[Byte]]): Array[Array[Byte]] = {
    var i = 0
    while (i < k) {
      if (a(i) == null || (b(i) != null && lessThan(b(i), a(i)))) a(i) = b(i)
      i += 1
    }
    a
  }

  private val hexChars = "0123456789abcdef".toCharArray

  private def toHex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexChars(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  override def eval(buf: Array[Array[Byte]]): Any =
    new GenericArrayData(buf.map(d => if (d == null) null else toHex(d)))

  // fixed layout: k × (1 presence byte + 16 digest bytes)
  override def serialize(buf: Array[Array[Byte]]): Array[Byte] = {
    val out = new Array[Byte](k * 17)
    var i = 0
    while (i < k) {
      if (buf(i) != null) {
        out(i * 17) = 1
        System.arraycopy(buf(i), 0, out, i * 17 + 1, 16)
      }
      i += 1
    }
    out
  }

  override def deserialize(bytes: Array[Byte]): Array[Array[Byte]] = {
    val buf = Array.fill[Array[Byte]](k)(null)
    var i = 0
    while (i < k) {
      if (bytes(i * 17) == 1) {
        val d = new Array[Byte](16)
        System.arraycopy(bytes, i * 17 + 1, d, 0, 16)
        buf(i) = d
      }
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): MinHashSketch =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): MinHashSketch =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): MinHashSketch =
    copy(child = c.head)
}
