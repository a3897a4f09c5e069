package graft

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
}
