package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so that a
  * benchmark listener's counters are complete before they are read. The
  * listener bus is private to Spark; this object lives in Spark's package
  * only to reach it. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
