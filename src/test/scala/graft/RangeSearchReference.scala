package graft

import graft.functions.dot
import graft.ops.Similarity.RangeSearchTau
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The join REFERENCE form of `ann_range_search`'s report over the corpus
  * `e` (vec_id, embedding) and a scored shortlist (a_id, b_id, dot): the
  * exact ε-ball size and the shortlist hits at τ, each counted per query
  * (vec_id < 10), then left-joined back onto the query ids — the shape
  * of the oracle SQL. The registry query counts all three in one
  * aggregate (`Similarity.rangeRecall`); RangeSearchSpec pins it against
  * this form.
  */
object RangeSearchReference {
  def apply(e: DataFrame, shortlist: DataFrame): DataFrame = {
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val truth = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
      .join(broadcast(q))
      .where(col("a_id") =!= col("b_id"))
      .withColumn("dot", dot(col("a_emb"), col("b_emb")))
      .where(col("dot") >= RangeSearchTau)
      .groupBy(col("a_id")).agg(count(lit(1)).as("n_true"))
    val found = shortlist
      .where(col("a_id") < 10 && col("dot") >= RangeSearchTau)
      .groupBy(col("a_id")).agg(count(lit(1)).as("n_found"))
    q.select(col("a_id"))
      .join(truth, Seq("a_id"), "left")
      .join(found, Seq("a_id"), "left")
      .select(col("a_id"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        when(coalesce(col("n_true"), lit(0L)) > 0,
          round(coalesce(col("n_found"), lit(0L)).cast("double")
            / col("n_true"), 6) + lit(0.0))
          .otherwise(lit(1.0)).as("range_recall"))
      .orderBy(col("a_id"))
  }
}
