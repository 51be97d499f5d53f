package org.apache.spark

/** Waits until every listener event posted so far has been delivered:
  * the listener bus is asynchronous, and the benchmark reads its counters
  * only after the work they describe has been fully reported. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
