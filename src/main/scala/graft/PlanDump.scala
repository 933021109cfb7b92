package graft

/** Formatted-plan snapshot tool (optimization rounds): writes
  * `<outDir>/<key>_<suffix>.txt` with `explain("formatted")` for each named
  * registry key, under the EXACT bench session config
  * ([[graft.tools.BenchSession]]) so the captured shape is the shape the
  * bench runs. Queries that execute imperative work when constructed
  * (index builds, fixpoint loops) run that work here too — the captured
  * plan is the returned relation's, which for those keys is the final
  * manifest/summary stage; the loop bodies are documented in their
  * Scaladoc and OPTIMIZATION notes instead.
  *
  * Run: sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> key [key ...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val keys = args.drop(3).toSeq
    val spark = tools.BenchSession.start(sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keys.foreach { k =>
      val df = SparkEntry.queries(k)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${k}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${k}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
