package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts. */
object JobCount {

  /** Spark jobs started while `body` runs. The listener bus delivers
    * events in order, so once the sentinel job's start is seen every job
    * `body` started has been counted.
    */
  def jobsDuring(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobcount-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(`sentinel`) => sentinelSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener bus sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the sentinel job never reached the listener")
      started.get()
    } finally sc.removeSparkListener(listener)
  }
}
