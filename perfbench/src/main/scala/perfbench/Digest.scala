package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import scala.util.hashing.MurmurHash3

/** Order-insensitive digest of a query result: the row count and the
  * wrapping sum of a 64-bit hash of each row's canonical text.
  *
  * Columns are read in name order, as the oracle compare sorts them. A
  * double is written with 9 significant digits (a float with 6), so that a
  * different summation order does not read as a different answer, while a
  * changed value does. `-0.0` reads as `0`.
  */
object Digest {
  final case class Result(rows: Long, hash: String)

  def of(df: DataFrame): Result = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val (rows, sum) = df.rdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r, order) }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (n2, h2)) => (n + n2, h + h2) }
    Result(rows, f"$sum%016x")
  }

  def rowHash(r: Row, order: Seq[Int]): Long = {
    val s = order.map(i => canonical(r.get(i))).mkString("|")
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x0b5e55ed).toLong & 0xffffffffL)
  }

  def canonical(v: Any): String = v match {
    case null => "N"
    case d: Double => "d" + real(d, 9)
    case f: Float => "f" + real(f.toDouble, 6)
    case s: String => s"s${s.length}:$s"
    case b: Array[Byte] => "x" + b.map("%02x".format(_)).mkString
    case d: java.math.BigDecimal => "m" + d.stripTrailingZeros.toPlainString
    case r: Row => (0 until r.length).map(i => canonical(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "=" + canonical(x) }.sorted
        .mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canonical).mkString("[", ",", "]")
    case other => other.getClass.getSimpleName.take(1) + other.toString
  }

  private def real(d: Double, digits: Int): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, s"%.${digits}g", Double.box(d))
}
