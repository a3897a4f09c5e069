package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch profiler for the dv fold scan's cost shape (dev tool, not a
  * driver surface): times each phase of the dv_scan bench point at one
  * bucket count to attribute the fold-vs-plain gap. Runs on
  * `SPARK_GRAFT_CPUS` cores (default 32), as [[graft.Bench]] does. */
object DvScanProbe {
  def main(args: Array[String]): Unit = {
    val buckets = if (args.nonEmpty) args(0).toInt else 256
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .appName("dv-scan-probe").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(graft.Tables.sessionConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.sinks.ManifestUpsertSink
    val rows = 64000L
    val dvKeys = 2048L
    val root = java.nio.file.Files.createTempDirectory(s"graft_probe_dvscan_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets)
    sink.upsertBatch(
      spark.range(rows).select(col("id"), (col("id") * 3).as("v"), lit(0L).as("seq")),
      "seq", 0L)
    sink.deleteKeysMergeOnRead(spark.range(dvKeys).select(col("id")), 1L)
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    val m = ManifestUpsertSink.latestManifest(root).get
    println(s"[probe] files=${m.files.size} dvs=${m.dvs.size}")
    for (i <- 1 to 3) {
      time(s"plain parquet data files #$i") {
        spark.read.parquet(m.files.map(_.path): _*).agg(sum(col("v"))).head()
      }
    }
    for (i <- 1 to 3) {
      time(s"dv keys parquet collect #$i") {
        spark.read.option("mergeSchema", "true").parquet(m.dvs.map(_.path): _*).collect()
      }
    }
    val want = (0L until rows).map(_ * 3).sum - (0L until dvKeys).map(_ * 3).sum
    for (i <- 1 to 3) {
      val got = time(s"fold scan #$i") {
        spark.read.format("graft-manifest").load(root).agg(sum(col("v"))).head().getLong(0)
      }
      println(s"[probe] fold correct=${got == want} ($got vs $want)")
    }
    // where does plain spend? schema inference vs execute
    for (i <- 1 to 2) {
      val dfp = time(s"plain: spark.read.parquet() plan #$i") {
        spark.read.parquet(m.files.map(_.path): _*)
      }
      time(s"plain: execute #$i") { dfp.agg(sum(col("v"))).head() }
    }
    spark.stop()
  }
}
