package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * counters read after an operation include all of its jobs. The listener
  * bus is private to Spark; this is the one call the harness needs from it. */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
