package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously. Before the benchmark
  * reads its listener's counters it waits until every event posted so far
  * has been delivered; the bus's drain call is private to Spark, so this
  * one call sits in Spark's namespace. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
