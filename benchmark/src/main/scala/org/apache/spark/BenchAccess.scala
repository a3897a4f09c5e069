package org.apache.spark

/** Listener events reach listeners asynchronously. The benchmark reads
  * its per-operation counts only after the bus has delivered everything
  * the operation posted; the bus' drain call is package-private. */
object BenchAccess {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
