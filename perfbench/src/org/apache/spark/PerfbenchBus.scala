package org.apache.spark

/** Blocks until every queued listener event has been delivered, so
  * counters read after an operation include all of its jobs and tasks.
  * The listener bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
