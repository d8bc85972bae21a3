package org.apache.spark

/** Reaches the package-private listener bus so the benchmark's tracer
  * can wait for every posted event to be delivered before it closes a
  * span (no sleeps, no polling).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
