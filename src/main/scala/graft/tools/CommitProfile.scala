package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev diagnostic for the manifest commit protocol's per-commit constant
  * (not part of the driver contract): runs the bench lake-merge shape
  * (N rows over B copy-on-write commits) with a job-level listener and
  * reports, per phase, wall seconds, Spark job count, and the file count
  * the table accumulates — so a protocol optimization moves a measured
  * number instead of a guess. Runs on `SPARK_GRAFT_CPUS` cores (default
  * 32), as [[graft.Bench]] does. */
object CommitProfile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.Tables.sessionConf)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val jobWall = new java.util.concurrent.atomic.AtomicLong(0)
    val jobCount = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        val desc = Option(s.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.put(s.jobId, (desc, s.time)); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(e.jobId)).foreach { case (_, t0) =>
          jobWall.addAndGet(e.time - t0); jobCount.incrementAndGet(); ()
        }
      }
    })

    import graft.sinks.ManifestUpsertSink
    val n = args.headOption.map(_.toInt).getOrElse(50000)
    val batches = 10
    // small-n guard: below `batches` rows the per-commit slice is empty and
    // (n * 0.8).toLong = 0 makes pmod yield null ids, which the sink's
    // non-null key check turns into a confusing crash
    require(n >= batches * 10,
      s"CommitProfile needs n >= ${batches * 10} rows (got $n)")
    val per = n / batches
    val root = java.nio.file.Files.createTempDirectory("graft_commit_profile_").toString
    val sink = new ManifestUpsertSink(root, "id", 16)

    def files(root: String): Long = {
      val p = java.nio.file.Paths.get(root, "data")
      if (!java.nio.file.Files.exists(p)) 0L
      else {
        val s = java.nio.file.Files.walk(p)
        try s.filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.toString.endsWith(".parquet")).count()
        finally s.close()
      }
    }

    // warm the session so commit 0 doesn't charge codegen/jit to the loop
    spark.range(1000).select(col("id"), col("id").as("v"))
      .write.format("noop").mode("overwrite").save()

    val t0 = System.nanoTime()
    for (b <- 0 until batches) {
      val jw0 = jobWall.get(); val jc0 = jobCount.get()
      val tb = System.nanoTime()
      val batch = spark.range(b.toLong * per, (b + 1).toLong * per).select(
        pmod(col("id") * lit(2654435761L), lit((n * 0.8).toLong)).as("id"),
        concat(lit("payload-"), col("id")).as("p"),
        col("id").as("seq"))
      sink.upsertBatch(batch, "seq", b.toLong)
      val wall = (System.nanoTime() - tb) / 1e9
      println(f"commit $b%2d: wall=$wall%6.3f s  jobs=${jobCount.get() - jc0}%2d " +
        f"jobWall=${(jobWall.get() - jw0) / 1e3}%6.3f s  dataFiles=${files(root)}%5d")
    }
    val total = (System.nanoTime() - t0) / 1e9
    println(f"TOTAL: $total%.3f s for $batches commits of $per rows " +
      f"(${n / total}%.0f rows/s)  totalJobs=${jobCount.get()}")
    // one read-back scan cost over the accumulated layout
    val tr = System.nanoTime()
    val cnt = ManifestUpsertSink.read(spark, root).count()
    println(f"read-back count=$cnt in ${(System.nanoTime() - tr) / 1e9}%.3f s over ${files(root)} files")
    // cleanup
    val p = java.nio.file.Paths.get(root)
    val s = java.nio.file.Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
    finally s.close()
    spark.stop()
  }
}
