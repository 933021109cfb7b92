package graft

import org.apache.spark.GraftListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The physical plans of the actions a block of driver code runs, read
  * from each action's own query execution once it has finished, so an
  * adaptive plan prints its final form.
  *
  * A lineage cut (`localCheckpoint`, or `checkpoint` under the
  * checkpoint-dir knob) truncates lineage, so the stage it materializes —
  * GlobalRank's range-partitioned ranking — is invisible in every
  * consumer's executedPlan and shows only in the cut's own query
  * execution.
  */
object CheckpointPlans {

  /** Executed-plan strings of the checkpoint actions `body` runs, in order. */
  def during(spark: SparkSession)(body: => Unit): Seq[String] =
    ofActions(spark, Set("localCheckpoint", "checkpoint"))(body)

  /** The final plan of the last `collect()` `body` runs ("" if none). */
  def lastCollect(spark: SparkSession)(body: => Unit): String =
    ofActions(spark, Set("collect"))(body).lastOption.getOrElse("")

  /** Executed-plan strings of the actions named in `actions` that `body`
    * runs, in order.
    */
  private def ofActions(spark: SparkSession, actions: Set[String])(
      body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (actions(funcName)) plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listeners run on the bus thread: wait for every event of `body`
      GraftListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[String]).toSeq
  }

  /** The plan of the last checkpoint `body` takes ("" if none). */
  def last(spark: SparkSession)(body: => Unit): String =
    during(spark)(body).lastOption.getOrElse("")
}
