package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits for Spark's listener bus to deliver every event posted so far,
  * so per-operation counters are complete when they are read. Lives in
  * the org.apache.spark tree because the bus is not public.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
