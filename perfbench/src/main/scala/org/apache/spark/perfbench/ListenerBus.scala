package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's private listener bus: the tracer reads its counters
  * only after every event posted so far has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
