package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains the context's listener bus so every event posted so far (jobs,
  * tasks, SQL execution callbacks) has reached its listeners. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
