package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The textbook one-partition global-window form of F5 (not a registry
  * entry since round 7): semantically the definition of
  * quartile/percent_rank/cume_dist, physically the shape that cannot
  * scale. PlanSpec cross-checks `win_ntile_pct` against it.
  */
object NtileReference {
  def ntileGlobalWindowBaseline(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_acctbal"))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .orderBy(col("c_custkey"))
  }
}
