package graft

import graft.ops.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The inline kNN forms the standing store replaced. No query calls
  * them; specs compare the stored artifacts and their builders against
  * them.
  */
object KnnReference {
  /** Directed k-NN edge list (a_id → b_id) over `e` (vec_id, embedding,
    * label): [[Similarity.knnCandidates]] cut to the top k per a_id under
    * the (dot desc, b_id) total order — the graph family's edge list
    * before it was served from the `knn_candidates` artifact.
    */
  def knnBucketed(e: DataFrame, k: Int, nprobe: Int = 2): DataFrame = {
    val wTop = Window.partitionBy(col("a_id")).orderBy(desc("dot"), asc("b_id"))
    Similarity.knnCandidates(e, nprobe)
      .withColumn("rn", row_number().over(wTop))
      .where(col("rn") <= k)
      .select(col("a_id"), col("b_id"))
  }

  /** The raw full-corpus candidate relation (a_id, b_id, dot), before the
    * shortlist's rank cut: [[Similarity.knnFullSides]] joined and scored
    * by [[Similarity.knnKeyedDots]].
    */
  def knnCandidatesFull(e: DataFrame, assigned: DataFrame,
      cent: DataFrame): DataFrame = {
    val m = Similarity.subBuckets(assigned.count())
    val (probes, routed) = Similarity.knnFullSides(e, assigned, Similarity.centCollect(cent), m)
    Similarity.knnKeyedDots(e, probes, routed, m)
      .select(col("a_id"), col("b_id"), col("dot"))
  }
}
