package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite — Spark startup dominates
  * test wall-clock, so specs must never each build their own. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Tables.sessionConf)
      .config(graft.stats.MetricsBinding.jmxConf) // K5: exercised by StatsSpec
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `body` with the session conf `key` at `value`, then restores it. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The Spark jobs `body` starts, and its result. The listener bus is
    * drained before and after, so no other body's jobs are counted. */
  def jobsOf[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    TestListenerBus.drain(sc)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try { val r = body; TestListenerBus.drain(sc); (jobs.get, r) }
    finally sc.removeSparkListener(listener)
  }
}
