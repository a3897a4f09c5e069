package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.ManifestUpsertSink
import graft.sources.ManifestSource.ManifestScan

/** The manifest scan's reader-side fold: when a scan builds one, and
  * the Spark jobs planning it costs. */
class ManifestScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def scanOf(df: DataFrame): ManifestScan =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b.scan }
      .get.asInstanceOf[ManifestScan]

  private def seeded(prefix: String): (String, ManifestUpsertSink) = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 8)
    sink.upsertBatch((1L to 400L).map(i => (i, s"p$i", 0L)).toDF("id", "p", "seq"), "seq", 0L)
    (root, sink)
  }

  test("planning a dv'd scan of a stamped table runs one job: the dv key collect") {
    import spark.implicits._
    val (root, sink) = seeded("graft_scan_dvjobs_")
    val (plainJobs, plain) =
      TestSpark.jobsOf(scanOf(spark.read.format("graft-manifest").load(root)))
    assert(!plain.folded && plainJobs == 0, s"no-dv planning ran $plainJobs jobs")
    sink.deleteKeysMergeOnRead(Seq(7L, 13L).toDF("id"), 1L)
    assert(ManifestUpsertSink.latestManifest(root).get.physSchema.isDefined)
    val (jobs, scan) =
      TestSpark.jobsOf(scanOf(spark.read.format("graft-manifest").load(root)))
    assert(scan.folded)
    // the stamp types the dv key read, so no schema-merge job precedes it
    assert(jobs == 1, s"dv'd planning ran $jobs jobs")
    val df = spark.read.format("graft-manifest").load(root)
    assert(df.count() == 398L && df.filter(col("id").isin(7L, 13L)).count() == 0L)
  }

  test("a live KEY rename keeps the schema-merging dv read: old-spelling dv files fold") {
    import spark.implicits._
    val (root, seed) = seeded("graft_scan_dvren_")
    seed.deleteKeysMergeOnRead(Seq(7L).toDF("id"), 1L)
    val sink = seed.renameColumn(spark, "id", "key")
    sink.deleteKeysMergeOnRead(Seq(13L).toDF("key"), 2L)
    val (jobs, scan) =
      TestSpark.jobsOf(scanOf(spark.read.format("graft-manifest").load(root)))
    assert(scan.folded)
    // the dv files spell two key names: mergeSchema's footer union, then
    // the key collect
    assert(jobs == 2, s"key-renamed dv'd planning ran $jobs jobs")
    val keys = spark.read.format("graft-manifest").load(root).select("key").as[Long].collect()
    assert(keys.toSet == (1L to 400L).toSet -- Set(7L, 13L) && keys.length == 398)
  }
}
