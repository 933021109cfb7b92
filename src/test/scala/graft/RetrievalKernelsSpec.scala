package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.typedLit

/** The shared retrieval-eval and LSH kernels behind the recall, PQ-ADC and
  * MinHash dedup keys, on hand-built relations of a few rows whose answers
  * are worked out by hand. Each kernel takes its relations as arguments,
  * so no fixture or index store is involved.
  */
class RetrievalKernelsSpec extends SparkSpec {
  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** (doc_id, s0..s3) MinHash signatures; each digest is a short tag. */
  private def sigs(rows: (Long, String, String, String, String)*): DataFrame =
    spark.createDataFrame(rows.map { case (d, a, b, c, e) =>
      (d, bytes(a), bytes(b), bytes(c), bytes(e))
    }).toDF("doc_id", "s0", "s1", "s2", "s3")

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet

  test("bandPairs: agreeing on (s0, s1) or on (s2, s3) pairs two docs; single digests do not") {
    val sig = sigs(
      (1L, "a", "b", "c", "d"), (2L, "a", "b", "x", "y"), // band 0 only
      (3L, "e", "f", "g", "h"), (4L, "i", "j", "g", "h"), // band 1 only
      (5L, "a", "z", "g", "q")) // one digest of each band, never a whole band
    assert(pairs(Dedup.bandPairs(sig)) === Set((1L, 2L), (3L, 4L)))
  }

  test("exactNearDups: Jaccard exactly 0.8 is kept, 0.75 is dropped") {
    val sh = spark.createDataFrame(
      Seq("a", "b", "c", "d").map((1L, _)) ++ Seq("a", "b", "c", "d", "e").map((2L, _)) ++
        Seq("p", "q", "r").map((3L, _)) ++ Seq("p", "q", "r", "s").map((4L, _)))
      .toDF("doc_id", "s")
    val cnt = sh.groupBy("doc_id").count().withColumnRenamed("count", "n")
    // (1, 2): 4 shared / (4 + 5 - 4) = 0.8; (3, 4): 3 / (3 + 4 - 3) = 0.75
    assert(pairs(Dedup.exactNearDups(sh, cnt)) === Set((1L, 2L)))
  }

  test("recallCounts: 2 of 3 exact neighbours found gives n_exact 3, n_hit 2") {
    val exact = spark.createDataFrame(Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L)))
      .toDF("a_id", "b_id")
    val approx = spark.createDataFrame(Seq((1L, 10L, 1), (1L, 12L, 2), (1L, 13L, 3)))
      .toDF("a_id", "b_id", "rn")
    val got = Similarity.recallCounts(exact, approx).collect()
      .map(r => r.getAs[Long]("a_id") -> ((r.getAs[Long]("n_exact"), r.getAs[Long]("n_hit"))))
      .toMap
    assert(got === Map(1L -> ((3L, 2L)), 2L -> ((1L, 0L))))
  }

  test("adcRanked: the self-pair is dropped and ties break on b_id") {
    // the LUT prices only the first subspace: adc = code of subspace 1
    val lut = Seq.tabulate(64)(i => if (i < 16) i.toDouble else 0.0)
    val scored = spark.createDataFrame(Seq(
      (7L, 7L, Seq(0, 0, 0, 0)), // self-pair, adc 0
      (7L, 5L, Seq(2, 3, 4, 5)), // adc 2
      (7L, 3L, Seq(2, 9, 9, 9)), // adc 2, ties with 5, wins on b_id
      (7L, 4L, Seq(1, 0, 0, 0)), // adc 1
      (7L, 2L, Seq(7, 0, 0, 0)))) // adc 7, past the cut
      .toDF("a_id", "b_id", "cds")
      .withColumn("lut", typedLit(lut))
    val got = Similarity.adcRanked(scored, 3, "rn_adc").collect()
      .map(r => (r.getAs[Long]("b_id"), r.getAs[Double]("adc"), r.getAs[Int]("rn_adc")))
      .sortBy(_._3).toSeq
    assert(got === Seq((4L, 1.0, 1), (3L, 2.0, 2), (5L, 2.0, 3)))
  }
}
