package graft

import org.apache.spark.sql.DataFrame

/** The two PageRank keys run as one query each. Their rows equal the
  * per-round-cut form they replaced (`PageRankReference`), and the
  * bounded key stays within a fixed job budget, its three rounds sharing
  * one links relation in the final plan.
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

  test("graph_pagerank_knn runs at most 8 Spark jobs") {
    ops.IndexStore.ensure(spark, sf)
    val jobs = JobCount.jobsDuring(spark)(run("graph_pagerank_knn").collect())
    assert(jobs <= 8, s"$jobs jobs")
  }

  test("graph_pagerank_knn: one knn_candidates scan, and the later rounds reuse the links broadcast") {
    ops.IndexStore.ensure(spark, sf)
    val plan = CheckpointPlans.lastCollect(spark)(run("graph_pagerank_knn").collect())
    assert(plan.contains("isFinalPlan=true"), plan)
    val lines = plan.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).toSeq
    // the plan prints a cut scan location; knn_candidates is the key's
    // only input with an a_id column
    assert(lines.count(_.contains("FileScan parquet [a_id#")) === 1, plan)
    val links = """BroadcastExchange HashedRelationBroadcastMode.*\[plan_id=(\d+)\]""".r
    def linkIds(reused: Boolean) = lines.filter(_.contains("ReusedExchange") == reused)
      .flatMap(l => links.findFirstMatchIn(l).map(_.group(1)))
    val built = linkIds(reused = false)
    assert(built.size === 1, plan)
    assert(linkIds(reused = true) === Seq(built.head, built.head), plan)
  }
}
