package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * so counters read after a pass include all of that pass's jobs. The
  * bus is package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
