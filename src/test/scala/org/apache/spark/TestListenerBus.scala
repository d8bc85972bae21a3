package org.apache.spark

/** Reaches the package-private listener bus, so a test can wait until
  * every posted event has reached its listeners instead of sleeping.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
