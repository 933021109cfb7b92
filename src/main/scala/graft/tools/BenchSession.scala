package graft.tools

import graft.Tables
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** The one session recipe of the diagnostic mains (`graft.BenchKeys`,
  * `StageProfile`, `graft.PlanDump`, `graft.PlanAudit`): `graft.Bench`'s
  * session config, read from the env vars Bench reads, so a diagnosed
  * key runs under the shape the bench runs it.
  */
object BenchSession {
  /** The bench-config session with `sfDir`'s tables registered after the
    * bench's lineitem warm-up. Cores come from SPARK_GRAFT_CPUS, else every
    * core this JVM sees. Registration sits OUTSIDE the warm-up's catch
    * (ADVICE r15): a docs-only `sfDir` skips only the warm-up, never the
    * registration.
    */
  def start(sfDir: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", "16m"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    catch { case NonFatal(_) => }
    Tables.registerAll(spark, sfDir)
    spark
  }
}
