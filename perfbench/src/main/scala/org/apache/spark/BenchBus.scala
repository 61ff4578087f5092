package org.apache.spark

/** Waits until every posted listener event has been delivered. The
  * benchmark reads its listener counters at span boundaries, and the
  * listener bus is asynchronous, so a boundary must drain it first. The
  * bus is package-private, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
