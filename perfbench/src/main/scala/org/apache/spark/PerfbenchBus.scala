package org.apache.spark

/** Reaches the driver's listener bus, whose drain call is package-private. */
object PerfbenchBus {
  /** Blocks until every listener event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
