package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items candidates as a mergeable native aggregate.
  *
  * The 100 TB heavy-hitter problem: "which items occur in more than a 1/t
  * fraction of a stream" cannot be answered by a plain `groupBy(item)` when
  * the item cardinality is corpus-sized (token vocabularies, URLs, user
  * agents) — that shuffles every distinct key. Misra–Gries summarizes each
  * partition with k counters in one pass: hit → increment; miss with a free
  * slot → insert at 1; miss with a full table → decrement ALL counters,
  * dropping zeros (the arriving item annihilates one unit of k+1 distinct
  * items including itself). The guarantee: a counter underestimates its
  * item's true count by at most n/(k+1), so EVERY item with true count
  * > n/(k+1) still holds a positive counter and is present in the summary —
  * the sketch is a certified candidate SUPERSET for any threshold coarser
  * than n/(k+1).
  *
  * Merging (this is what makes it a partial aggregate): sum counters
  * pairwise, and if more than k survive, subtract the (k+1)-th largest
  * count from every counter and drop the non-positives. Agarwal, Cormode,
  * Huang, Phillips, Wei, Yi, "Mergeable Summaries" (PODS 2012) prove the
  * n/(k+1) bound is preserved under arbitrary merge trees — exactly
  * Spark's partial → shuffle → final aggregation shape, and the reason the
  * summary also serves incremental/stateful pipelines like any other
  * partial buffer.
  *
  * The candidate SET can vary with partitioning (only the superset property
  * is order-invariant); consumers that need deterministic output recount
  * candidates exactly in a second pass (E27/E28) — the recounted result is
  * then exact and partition-order-invariant. eval() returns the keys
  * sorted ascending so the intermediate relation itself is stable for a
  * fixed merge tree.
  *
  * Cost (ADVICE r9 #4, corrected): O(1) per hit; a full-table miss pays
  * O(k) and evicts only counters that have decayed to 1, so an adversarial
  * stream (heavy head first, then a long distinct tail against a table of
  * counters all > 1) makes EVERY tail item pay O(k) while evicting nothing
  * — worst case O(n·k), not O(n + k·misses). With k = 256 that bound is
  * 256 decrements per row, which codegen'd partial aggregation absorbs at
  * fixture scale (the sf1 slope study shows the query data-bound, not
  * sketch-bound); if a tail-flooded 100 TB corpus ever surfaced it, the
  * standard fix is batching the decrement SpaceSaving-style (subtract the
  * minimum counter once per buffered batch of misses) — noted, not needed.
  * The buffer never exceeds k entries (≤ k·(avg key len + 8) bytes
  * serialized).
  */
case class FrequentItemsSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[String, java.lang.Long]] {

  type Buf = java.util.HashMap[String, java.lang.Long]

  override def children: Seq[Expression] = Seq(child)
  // update() casts with asInstanceOf, so misuse through the `freqItems`
  // builder must fail at ANALYSIS with a clear type error (ADVICE r3
  // protocol; ExpectsInputTypes is private[sql] in Spark 4).
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_freq_items requires a STRING item, got ${child.dataType.sql}")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_freq_items"

  override def createAggregationBuffer(): Buf = new Buf(k * 2)

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      val cur = buf.get(s)
      if (cur != null) buf.put(s, java.lang.Long.valueOf(cur.longValue + 1L))
      else if (buf.size < k) buf.put(s, java.lang.Long.valueOf(1L))
      else {
        // full-table miss: one Misra–Gries decrement step (the new item is
        // NOT inserted — its implicit counter goes 1 → 0 with the rest)
        val it = buf.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.longValue <= 1L) it.remove()
          else e.setValue(java.lang.Long.valueOf(e.getValue.longValue - 1L))
        }
      }
    }
    buf
  }

  override def merge(a: Buf, b: Buf): Buf = {
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = a.get(e.getKey)
      a.put(e.getKey, java.lang.Long.valueOf(
        (if (cur == null) 0L else cur.longValue) + e.getValue.longValue))
    }
    if (a.size > k) {
      // subtract the (k+1)-th largest count from all, drop non-positives:
      // ≥ size−k entries are ≤ that value, so the result has ≤ k entries
      val vals = new Array[Long](a.size)
      var i = 0
      val vit = a.values.iterator()
      while (vit.hasNext) { vals(i) = vit.next().longValue; i += 1 }
      java.util.Arrays.sort(vals)
      val cut = vals(vals.length - (k + 1))
      val eit = a.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        val nv = e.getValue.longValue - cut
        if (nv <= 0L) eit.remove()
        else e.setValue(java.lang.Long.valueOf(nv))
      }
    }
    a
  }

  override def eval(buf: Buf): Any = {
    val keys = new Array[String](buf.size)
    buf.keySet().toArray(keys)
    java.util.Arrays.sort(keys.asInstanceOf[Array[Object]])
    val out = new Array[Any](keys.length)
    var i = 0
    while (i < keys.length) { out(i) = UTF8String.fromString(keys(i)); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val entries = new Array[(Array[Byte], Long)](buf.size)
    var total = 4
    var i = 0
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val bs = e.getKey.getBytes(StandardCharsets.UTF_8)
      entries(i) = (bs, e.getValue.longValue)
      total += 4 + bs.length + 8
      i += 1
    }
    val bb = ByteBuffer.allocate(total)
    bb.putInt(entries.length)
    i = 0
    while (i < entries.length) {
      bb.putInt(entries(i)._1.length)
      bb.put(entries(i)._1)
      bb.putLong(entries(i)._2)
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Buf(k * 2)
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val bs = new Array[Byte](len)
      bb.get(bs)
      buf.put(new String(bs, StandardCharsets.UTF_8), java.lang.Long.valueOf(bb.getLong))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): FrequentItemsSketch =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): FrequentItemsSketch =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FrequentItemsSketch =
    copy(child = c(0))
}

object FrequentItemsSketch {
  /** Sketch capacity: error ≤ n/257 — 4× finer than the n/64 report
    * threshold the E27/E28 queries certify against. */
  val DefaultK = 256
}
