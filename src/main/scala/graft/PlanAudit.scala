package graft

/** Plan auditor: renders every query's physical plan shape into PLANS.md —
  * shuffle count, join strategies, scan pushdown — so plan regressions are
  * diffable and the 100 TB scale review (SURVEY §7.4) has evidence.
  * Plans are taken under the bench session config
  * ([[graft.tools.BenchSession]]).
  *
  * Run: sbt "runMain graft.PlanAudit /root/testdata/sf0.001 PLANS.md"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = tools.BenchSession.start(sfDir)

    val interesting = Seq(
      "CartesianProduct", "BroadcastNestedLoopJoin", "BroadcastHashJoin",
      "SortMergeJoin", "ShuffledHashJoin", "TakeOrderedAndProject",
      "WindowGroupLimit", "SessionWindowStateStore")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by graft.PlanAudit)\n\n")
    sb.append(s"Data: `$sfDir`. Columns: shuffle exchanges in the initial plan, ")
    sb.append("join/limit strategies present, parquet pushdown seen.\n\n")
    sb.append("| query | shuffles | strategies | pushdown | notes |\n")
    sb.append("|---|---|---|---|---|\n")

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val row = try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val shuffles = "Exchange (hash|range)partitioning".r.findAllIn(plan).size
        val strats = interesting.filter(plan.contains).mkString(", ")
        val pushdown =
          if (!plan.contains("PushedFilters")) "n/a"
          else if ("PushedFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined) "yes"
          else "none"
        val notes =
          (if (plan.contains("CartesianProduct")) "⚠ cartesian " else "") +
          (if (shuffles > 4) "⚠ many shuffles" else "")
        s"| $name | $shuffles | $strats | $pushdown | $notes |"
      } catch { case e: Throwable => s"| $name | - | ERROR ${e.getMessage.take(40)} | - | |" }
      sb.append(row).append("\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
