package graft

import org.apache.spark.sql.DataFrame

/** The two PageRank keys run as one query each. Their rows equal the
  * per-round-cut form they replaced (`PageRankReference`), and the
  * bounded key stays within a fixed job budget.
  */
class PageRankSpec extends SparkSpec {

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema === b.schema)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.count() === 20L)
  }

  for (sfDir <- Seq(SparkSpec.SF, SparkSpec.SF01)) {
    val tag = sfDir.substring(sfDir.lastIndexOf('/') + 1)

    test(s"graph_pagerank_knn equals the per-round-cut reference at $tag") {
      sameRows(SparkEntry.queries("graph_pagerank_knn")(spark, sfDir),
        PageRankReference.pageRankKnn(spark, sfDir))
    }

    test(s"graph_pagerank_full equals the per-round-cut reference at $tag") {
      sameRows(SparkEntry.queries("graph_pagerank_full")(spark, sfDir),
        PageRankReference.pageRankFull(spark, sfDir))
    }
  }

  test("graph_pagerank_knn runs at most 12 Spark jobs") {
    ops.IndexStore.ensure(spark, sf)
    val jobs = JobCount.jobsDuring(spark)(run("graph_pagerank_knn").collect())
    assert(jobs <= 12, s"$jobs jobs")
  }
}
