package graft

import graft.ops.Similarity
import org.apache.spark.sql.DataFrame

/** `ann_range_search` counts its queries, ε-ball members and shortlist
  * hits in one aggregate (`Similarity.rangeRecall`). These tests pin it
  * row for row against the three-way left-join form it replaced
  * ([[RangeSearchReference]]) at two fixtures and on hand-built corpora
  * with the edge cases the join form handled by its left joins, and
  * hold the key to its Spark job budget.
  */
class RangeSearchSpec extends SparkSpec {

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema === b.schema)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"rows differ:\n${a.collect().mkString("\n")}\nvs\n${b.collect().mkString("\n")}")
  }

  for (sfDir <- Seq(SparkSpec.SF, SparkSpec.SF01)) {
    val tag = sfDir.substring(sfDir.lastIndexOf('/') + 1)
    test(s"ann_range_search equals the left-join reference at $tag") {
      val got = SparkEntry.queries("ann_range_search")(spark, sfDir)
      assertSameRows(got, RangeSearchReference(Tables.embeddings(spark, sfDir),
        Similarity.knnCandidatesFullStored(spark, sfDir)))
      assert(got.count() === 10L)
    }
  }

  test("rangeRecall: an empty ε-ball gives recall 1.0, no shortlist hit gives n_found 0, and only query ids report") {
    // τ = 0.3: queries 0 and 2 are each other's whole ball; query 1 is
    // orthogonal to both, so its ball is empty
    val e = spark.createDataFrame(Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(1f, 0f)), (30L, Seq(-1f, 0f))))
      .toDF("vec_id", "embedding")
    val shortlist = spark.createDataFrame(Seq(
      (0L, 2L, 1.0),  // query 0 finds its one ball member
      (1L, 0L, 0.1),  // below τ: query 1 finds nothing
      (2L, 30L, -1.0), // below τ: query 2 has no hit at τ
      (5L, 0L, 0.9),  // a_id < 10 but not a corpus vector: no row
      (30L, 0L, 0.9))) // not a query
      .toDF("a_id", "b_id", "dot")
    val got = Similarity.rangeRecall(e, shortlist)
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq === Seq((0L, 1L, 1L, 1.0), (1L, 0L, 0L, 1.0), (2L, 1L, 0L, 0.0)))
    assertSameRows(got, RangeSearchReference(e, shortlist))
  }

  test("ann_range_search runs at most 3 Spark jobs") {
    // the query broadcast, the one aggregate's shuffle, the result stage
    ops.IndexStore.ensure(spark, sf)
    val jobs = JobCount.jobsDuring(spark)(run("ann_range_search").collect())
    assert(jobs <= 3, s"$jobs jobs")
  }
}
