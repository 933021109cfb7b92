package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** Stage-level profile of one registry key (optimization round 17): runs
  * the key once under the exact bench session config with a listener that
  * records, per completed stage, the task count, summed task time, summed
  * executor CPU time, and shuffle read/write bytes. Diagnostic main, not
  * registered in Queries — the numbers say WHICH stage of a multi-job
  * operator owns the wall clock before any rewrite is attempted (guide
  * §1.2), which the per-key bench totals cannot. Jobs that carry a Spark
  * job description are also summed per description: the index store
  * names each artifact write that way, so this gives its write time.
  *
  * Run: sbt "runMain graft.tools.StageProfile <sfDir> <key> [key ...]"
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = args.drop(1).toSeq
    val spark = BenchSession.start(sfDir)

    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Int, Long, Long, Long, Long)]
    val described = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(d => jobStarts.put(e.jobId, (d, e.time)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(e.jobId)).foreach { case (d, t0) =>
          described.add((d, e.time - t0))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.add((si.stageId,
          si.name.takeWhile(_ != '\n').take(60),
          si.numTasks,
          m.executorRunTime,
          m.executorCpuTime / 1000000L,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten))
      }
    })

    keys.foreach { k =>
      stages.clear()
      described.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(k)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // let straggling listener events drain before printing
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val ss = stages.asScala.toSeq.sortBy(-_._4)
      println(f"[stageprofile] $k wall=$wall%.2f s, ${ss.size} stages, " +
        f"task-time=${ss.map(_._4).sum / 1e3}%.2f s, " +
        f"cpu=${ss.map(_._5).sum / 1e3}%.2f s")
      ss.take(15).foreach { case (id, name, n, rt, cpu, sr, sw) =>
        println(f"[stageprofile]   stage=$id%-4d tasks=$n%-3d " +
          f"task-time=${rt / 1e3}%6.2f s cpu=${cpu / 1e3}%6.2f s " +
          f"shufR=${sr / 1048576.0}%7.2f MB shufW=${sw / 1048576.0}%7.2f MB  $name")
      }
      described.asScala.toSeq.groupBy(_._1).toSeq.sortBy(-_._2.map(_._2).sum)
        .foreach { case (d, js) =>
          println(f"[stageprofile]   described jobs=${js.size}%-3d " +
            f"job-wall=${js.map(_._2).sum / 1e3}%6.2f s  $d")
        }
    }
    spark.stop()
  }
}
