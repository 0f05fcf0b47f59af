package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block launches, by job description ("" when a job
  * has none). The listener bus is drained before and after the block, so
  * only its own jobs count; lives in the `org.apache.spark` namespace for
  * the bus's `waitUntilEmpty`. The bench records each query's count with
  * it, and tests pin job counts with it. */
object JobCounter {

  def jobs[A](sc: SparkContext)(body: => A): (A, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, seen.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
