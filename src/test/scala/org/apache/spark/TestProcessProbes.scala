package org.apache.spark

/** Test bridge into Spark's one-time process probes: the executor
  * metrics poller builds its procfs reader on its first poll, and that
  * constructor runs `getconf PAGESIZE` once per JVM. A spec that counts
  * the processes a statement starts runs the probe beforehand, so the
  * count does not depend on when the first poll fell. */
object TestProcessProbes {
  def warm(): Unit = { org.apache.spark.executor.ProcfsMetricsGetter.pTreeInfo; () }
}
