package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared Spark fixture for specs: one local session per JVM (tests fork
  * once), UTC, shuffle partitions sized to cores not the 200 default.
  * `local[4,2]` = 4 threads, maxFailures 2 — local mode takes the retry
  * budget from the master string, and TaskRetrySpec needs a second task
  * attempt to exist (a real cluster always runs with retries).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4,2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val SF: String = "/root/testdata/sf0.001"
  /** The next fixture up, for checks that must hold at two scales. */
  val SF01: String = SF.replace("sf0.001", "sf0.01")
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.SF
  def run(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf)
}
