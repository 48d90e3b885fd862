package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the registered
  * listeners, so per-operation counters are complete when read. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
