package org.apache.spark

/** The one Spark-private call the benchmark needs: wait until every
  * listener event posted so far has been delivered, so per-op counters
  * are complete when they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
