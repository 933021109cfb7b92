package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Mergeable Bloom filter as a native aggregate — the distributed build
  * stage of the PARTITIONED bloom index (the 100 TB form of
  * `dedup_bloom_prefilter`, VERDICT r6 "per-bucket filter" note): group
  * fingerprints by hash bucket and aggregate ONE right-sized filter per
  * bucket. Partial buffers merge by bitwise OR (`mergeInPlace`), so
  * map-side combine and AQE work exactly as for built-in aggregates, and
  * no single driver merge ever sees more than one bucket's filter tree —
  * the multi-GB single-filter driver merge is gone by construction.
  *
  * Items are hashed exactly like `BloomFilter.putString` (UTF-8 bytes →
  * Murmur3), so a probe with `mightContainString` on the deserialized
  * result is semantics-identical to the single-filter build. `eval()`
  * emits the serialized filter (BinaryType); capacity/fpp ride the
  * expression as literals (sized from data by the caller, per the M57
  * sizing discipline).
  */
case class BloomSketch(
    child: Expression,
    expectedItems: Long,
    fpp: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BloomFilter] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_bloom"

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(math.max(expectedItems, 1L), fpp)

  override def update(buf: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buf.putBinary(v.asInstanceOf[UTF8String].getBytes)
    buf
  }

  override def merge(a: BloomFilter, b: BloomFilter): BloomFilter = {
    a.mergeInPlace(b)
    a
  }

  override def eval(buf: BloomFilter): Any = serialize(buf)

  override def serialize(buf: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    buf.writeTo(out)
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  override def withNewMutableAggBufferOffset(n: Int): BloomSketch =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): BloomSketch =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BloomSketch =
    copy(child = c.head)
}
