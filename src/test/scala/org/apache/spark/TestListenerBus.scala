package org.apache.spark

/** Test bridge into the private[spark] listener bus: a spec that counts
  * events with a SparkListener must drain the asynchronous bus before it
  * reads its counters, or it races the events of the jobs it just ran. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
