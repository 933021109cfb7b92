package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The textbook REFERENCE form of `wk_q13_order_count_dist`: left-join
  * every order onto its customer, count `o_orderkey` per `c_custkey`,
  * then count customers per order count — the shape of the oracle SQL.
  * The registry query counts orders per customer before the join (eager
  * aggregation); EagerAggregationSpec pins it against this form.
  */
object Q13Reference {
  def apply(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
}
