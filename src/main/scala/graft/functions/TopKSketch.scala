package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k per group as a mergeable native aggregate.
  *
  * Honest positioning (measured, see SCALE.md): Spark 4's window form
  * (`row_number() OVER (...) <= k`) is ALREADY scale-safe — WindowGroupLimit
  * runs in partial mode before the exchange, so both forms ship ~k rows per
  * group per mapper and benched at parity on 20M rows. What the aggregate
  * form adds is *composability*: top-k participates in an ordinary
  * `groupBy(...).agg(...)`, so one pass computes top-k NEXT TO count/sum/avg
  * (the window form needs a second aggregation pass over the same data),
  * the k-slot buffer replaces the mappers' O(n log n) sort with O(n·k)
  * insertion, and the serialized buffer is a mergeable sketch usable from
  * incremental/stateful contexts like any other partial aggregate. Order:
  * score DESC, key ASC — identical to the window form's
  * `ORDER BY o_totalprice DESC, o_orderkey`.
  *
  * Buffer ops are O(k) insertion into a sorted array — right for the small
  * k (top-2..100) this operator exists for.
  */
case class TopKSketch(
    score: Expression,
    key: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.ArrayList[(Double, Long)]] {

  override def children: Seq[Expression] = Seq(score, key)
  // update() casts with asInstanceOf, so misuse (decimal/int args via the
  // `topk` builder) must fail at ANALYSIS with a clear type error,
  // not as a runtime ClassCastException (ADVICE r3). ExpectsInputTypes is
  // private[sql] in Spark 4 (see LogisticScore), so the check is direct.
  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && key.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_topk requires (DOUBLE score, BIGINT key), got " +
        s"(${score.dataType.sql}, ${key.dataType.sql})")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("key", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_topk"

  override def createAggregationBuffer(): java.util.ArrayList[(Double, Long)] =
    new java.util.ArrayList[(Double, Long)](k + 1)

  /** true iff (s1,k1) ranks strictly better than (s2,k2). */
  private def beats(s1: Double, k1: Long, s2: Double, k2: Long): Boolean =
    s1 > s2 || (s1 == s2 && k1 < k2)

  private def insert(buf: java.util.ArrayList[(Double, Long)],
      s: Double, id: Long): Unit = {
    if (buf.size == k) {
      val worst = buf.get(k - 1)
      if (!beats(s, id, worst._1, worst._2)) return
    }
    var i = 0
    while (i < buf.size && beats(buf.get(i)._1, buf.get(i)._2, s, id)) i += 1
    buf.add(i, (s, id))
    if (buf.size > k) buf.remove(k)
  }

  override def update(buf: java.util.ArrayList[(Double, Long)],
      input: InternalRow): java.util.ArrayList[(Double, Long)] = {
    val s = score.eval(input)
    val id = key.eval(input)
    if (s != null && id != null)
      insert(buf, s.asInstanceOf[Double], id.asInstanceOf[Long])
    buf
  }

  override def merge(a: java.util.ArrayList[(Double, Long)],
      b: java.util.ArrayList[(Double, Long)]): java.util.ArrayList[(Double, Long)] = {
    var i = 0
    while (i < b.size) { insert(a, b.get(i)._1, b.get(i)._2); i += 1 }
    a
  }

  override def eval(buf: java.util.ArrayList[(Double, Long)]): Any = {
    val rows = new Array[Any](buf.size)
    var i = 0
    while (i < buf.size) {
      rows(i) = InternalRow(buf.get(i)._1, buf.get(i)._2)
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: java.util.ArrayList[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) {
      bb.putDouble(buf.get(i)._1)
      bb.putLong(buf.get(i)._2)
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.ArrayList[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.ArrayList[(Double, Long)](n + 1)
    var i = 0
    while (i < n) { buf.add((bb.getDouble, bb.getLong)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(n: Int): TopKSketch =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TopKSketch =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKSketch =
    copy(score = c(0), key = c(1))
}
