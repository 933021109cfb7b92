package graft

/** Quiet-window per-key re-bench for MAD adjudication (BASELINE.md
  * protocol): `runMain graft.BenchKeys <sfDir> <key> [key ...]` runs each
  * named registry key 1 cold + 5 warm under the exact Bench session
  * config ([[graft.tools.BenchSession]]) and prints warm median + MAD per
  * key. This is the second of the "two consecutive benches" the
  * adjudication rule requires, run with nothing else on the machine —
  * the full Bench cannot isolate a key from the 358 others'
  * page-cache/GC wake.
  */
object BenchKeys {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = args.drop(1).toSeq
    val spark = tools.BenchSession.start(sfDir)
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    keys.foreach { k =>
      def once(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(k)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = once()
      val warms = Seq.fill(5)(once())
      val w = median(warms)
      val mad = median(warms.map(x => math.abs(x - w)))
      println(f"[benchkeys] $k cold=$cold%.3f warm_median5=$w%.3f " +
        f"mad=$mad%.4f spread=[${warms.min}%.3f,${warms.max}%.3f]")
    }
    spark.stop()
  }
}
