package org.apache.spark

/** Wait until every queued listener event has been delivered, so a traced
  * step's counters are complete before the next step starts. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
