package org.apache.spark

/** Spec access to the driver's listener bus, which Spark keeps private. */
object GraftListenerBus {

  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
