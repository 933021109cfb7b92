package graft

import graft.ops.Checkpoints.CutOps
import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PageRank as the two graph keys computed it before they became one
  * query: eager cuts of the vertex and edge relations, then per round a
  * join to the edges, a keyed sum, a left join back onto the vertex set
  * crossed with the broadcast vertex count, and a lazy lineage cut.
  * No query calls it; `PageRankSpec` compares both keys against it.
  */
object PageRankReference {

  def pageRankKnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir).where(col("vec_id") < 500)
    val edges = Similarity.knnEdgesStored(spark, sfDir, 5)
      .select(col("a_id"), col("b_id")).lineageCut(true)
    val verts = e.select(col("vec_id")).lineageCut(true)
    val n1 = verts.agg(count(lit(1)).as("n"))
    var ranks = verts.crossJoin(broadcast(n1))
      .select(col("vec_id"), (lit(1.0) / col("n")).as("r"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(ranks, col("a_id") === col("vec_id"))
        .groupBy(col("b_id")).agg(sum(col("r") / lit(5.0)).as("c"))
      ranks = verts.crossJoin(broadcast(n1))
        .join(contrib, col("vec_id") === col("b_id"), "left")
        .select(col("vec_id"),
          round(lit(0.15) / col("n") + lit(0.85) * coalesce(col("c"), lit(0.0)), 12).as("r"))
        .lineageCut(false)
    }
    top20(ranks)
  }

  def pageRankFull(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val edges = Similarity.knnFullEdges(spark, sfDir, 8)
    val verts = e.select(col("vec_id")).lineageCut(true)
    val outdeg = edges.groupBy(col("a_id")).agg(count(lit(1)).as("od"))
      .lineageCut(true)
    val n1 = verts.agg(count(lit(1)).as("n"))
    var ranks = verts.crossJoin(broadcast(n1))
      .select(col("vec_id"), (lit(1.0) / col("n")).as("r"))
    for (_ <- 1 to 3) {
      val contrib = edges
        .join(ranks, col("a_id") === col("vec_id"))
        .join(outdeg, Seq("a_id"))
        .groupBy(col("b_id")).agg(sum(col("r") / col("od")).as("c"))
      ranks = verts.crossJoin(broadcast(n1))
        .join(contrib, col("vec_id") === col("b_id"), "left")
        .select(col("vec_id"),
          round(lit(0.15) / col("n") + lit(0.85) * coalesce(col("c"), lit(0.0)), 12).as("r"))
        .lineageCut(false)
    }
    top20(ranks)
  }

  private def top20(ranks: DataFrame): DataFrame =
    ranks
      .select(col("vec_id"), (round(col("r"), 6) + lit(0.0)).as("pagerank"))
      .orderBy(desc("pagerank"), asc("vec_id"))
      .limit(20)
}
