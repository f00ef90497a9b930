package org.apache.spark

/** Waits until every listener event posted so far has been delivered:
  * the benchmark's tracer derives per-layer metrics only after the
  * asynchronous listener bus has caught up with the run. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
