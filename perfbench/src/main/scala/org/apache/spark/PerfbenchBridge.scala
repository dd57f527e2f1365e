package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so per-operation counts are complete when it reads
  * them. The listener bus is package-private to Spark. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
