package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the traced run must wait until
  * every queued event (jobs, tasks, SQL executions) has been delivered
  * before it reads the recorded counts. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
