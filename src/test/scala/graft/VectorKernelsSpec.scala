package graft

import graft.functions.{dot, l2sq}
import graft.ops.Similarity
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The vector family's shared kernels on hand-built rows: the array-pair
  * kernels behind `dot`/`l2sq`, the per-query rank cut and the k-core peel
  * round. No fixture or index store is involved.
  */
class VectorKernelsSpec extends SparkSpec {

  /** (f1, f2: array<float>; d1, d2: array<double>), built from an RDD so
    * the optimizer cannot fold the kernels away on a local relation.
    */
  private def arrays: DataFrame = {
    val jf = (xs: Seq[java.lang.Float]) => xs
    val jd = (xs: Seq[java.lang.Double]) => xs
    val rows = Seq(
      Row(jf(Seq(0.1f, -2.5f, 3.3333f)), jf(Seq(1.7f, 0.25f, -0.9f)),
        jd(Seq(0.1, 1e-7, 2.0 / 3)), jd(Seq(-1.0 / 3, 5.5, 0.3))),
      // null elements are skipped
      Row(jf(Seq(1.5f, null, 2.25f)), jf(Seq(null, 4.0f, 0.5f)),
        jd(Seq(0.7, 0.2, null)), jd(Seq(null, 1.1, 9.0))),
      // unequal lengths: the longer input is truncated to the shorter
      Row(jf(Seq(1f, 2f, 3f, 4f)), jf(Seq(0.5f, 0.25f)),
        jd(Seq(0.125)), jd(Seq(3.0, 1.0, 7.0))),
      Row(jf(Seq()), jf(Seq(1f)), jd(Seq()), jd(Seq())),
      Row(null, jf(Seq(1f)), jd(Seq(1.0)), null))
    val af = ArrayType(FloatType, containsNull = true)
    val ad = ArrayType(DoubleType, containsNull = true)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("f1", af), StructField("f2", af),
      StructField("d1", ad), StructField("d2", ad))))
  }

  /** The portable HOF forms, with null terms (null or padded elements)
    * skipped.
    */
  private def hof(a: String, b: String, term: String): Column = expr(
    s"aggregate(zip_with($a, $b, (x, y) -> $term), CAST(0.0 AS DOUBLE), " +
      "(acc, v) -> IF(v IS NULL, acc, acc + v))")
  private val dotTerm = "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)"
  private val l2Term =
    "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"

  private val pairs = Seq("f1" -> "f2", "f1" -> "d1", "d2" -> "f2", "d1" -> "d2")

  private def values(df: DataFrame): Seq[Option[Double]] =
    df.collect().toSeq.flatMap(r =>
      (0 until r.length).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i))))

  /** (kernel results, HOF results, whether the kernels ran whole-stage
    * codegen'd). The HOF forms run in their own projection: they are
    * interpreted and would keep the kernels out of a codegen stage.
    */
  private def kernelVsHof(): (Seq[Option[Double]], Seq[Option[Double]], Boolean) = {
    val kernels = arrays.select(pairs.flatMap { case (a, b) =>
      Seq(dot(col(a), col(b)), l2sq(col(a), col(b)))
    }: _*)
    val hofs = arrays.select(pairs.flatMap { case (a, b) =>
      Seq(hof(a, b, dotTerm), hof(a, b, l2Term))
    }: _*)
    val codegen =
      kernels.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
    (values(kernels), values(hofs), codegen)
  }

  private def bits(xs: Seq[Option[Double]]) =
    xs.map(_.map(java.lang.Double.doubleToRawLongBits))

  test("dot and l2sq equal their HOF forms bit-for-bit under whole-stage codegen") {
    val (kernel, hofForm, codegen) = kernelVsHof()
    assert(codegen, "the projection must run in a whole-stage codegen stage")
    assert(kernel.exists(_.exists(_ != 0.0)) && kernel.contains(None))
    assert(bits(kernel) === bits(hofForm))
  }

  test("dot and l2sq equal their HOF forms bit-for-bit when interpreted") {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val (kernel, hofForm, codegen) = kernelVsHof()
      assert(!codegen)
      assert(bits(kernel) === bits(hofForm))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dot and l2sq keep the per-pair arithmetic: 1·4 + 2·5 + 3·6 and (1−4)² + (2−6)²") {
    val r = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0), Seq(4.0, 6.0))), 1),
      StructType(Seq(StructField("a", ArrayType(DoubleType)),
        StructField("b", ArrayType(DoubleType)), StructField("c", ArrayType(DoubleType)))))
      .select(dot(col("a"), col("b")), l2sq(col("a"), col("c"))).head()
    assert(r.getDouble(0) === 32.0 && r.getDouble(1) === 25.0)
  }

  test("topPerQuery breaks a score tie on b_id under the caller's rank column") {
    val scored = spark.createDataFrame(Seq(
        (1L, 5L, 0.9), (1L, 3L, 0.9), (1L, 4L, 0.5), (1L, 6L, 0.7),
        (2L, 9L, 0.2), (2L, 8L, 0.2)))
      .toDF("a_id", "b_id", "score")
    def cut(score: Column): Set[(Long, Long, Int)] =
      Similarity.topPerQuery(scored, score, 2, "pos").collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"), r.getAs[Int]("pos"))).toSet
    // desc: b 3 and 5 tie at 0.9, 3 ranks first
    assert(cut(desc("score")) === Set((1L, 3L, 1), (1L, 5L, 2), (2L, 8L, 1), (2L, 9L, 2)))
    // asc: the 0.2 tie of query 2 breaks the same way
    assert(cut(asc("score")) === Set((1L, 4L, 1), (1L, 6L, 2), (2L, 8L, 1), (2L, 9L, 2)))
  }

  test("kcorePeelRound drops the pendant vertex of K4 plus a pendant edge at k = 3") {
    val k4 = for (u <- 1L to 4L; v <- (u + 1) to 4L) yield (u, v)
    val edges = spark.createDataFrame(k4 :+ ((4L, 5L))).toDF("u", "v")
    for (eager <- Seq(true, false)) {
      val (alive, kept) = Similarity.kcorePeelRound(edges, 3, eager)
      assert(alive.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L), s"eager=$eager")
      assert(kept.collect().map(r => (r.getAs[Long]("u"), r.getAs[Long]("v"))).toSet ===
        k4.toSet, s"eager=$eager")
    }
  }
}
