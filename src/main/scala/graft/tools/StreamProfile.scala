package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev diagnostic for the streaming ingest path: times the BATCH
  * equivalent of records-source → parse → select → gzip text write at
  * several chunk sizes and prints the optimized plan, so parse pruning
  * and task parallelism effects are attributable outside the streaming
  * machinery. Not part of the driver contract. Runs on
  * `SPARK_GRAFT_CPUS` cores (default 32), as [[graft.Bench]] does. */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(50000)
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
    val epoch0 = 1704103500000L
    for (chunk <- Seq(5000, n / cpus.toInt max 1)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_sprof_").toString
      val raw = spark.range(n).select(
        lpad(col("id").cast("string"), 56, "0").as("sequenceNumber"),
        to_json(struct(
          (lit(epoch0) + col("id")).as("epoch"),
          to_json(struct(
            concat(lit("id-"), col("id")).as("id"),
            concat(lit("http://bench/p"), col("id") % 100).as("url"),
            (lit(epoch0) + col("id")).as("t"))).as("body"))).as("data"),
        timestamp_millis(lit(epoch0) + col("id")).as("ts"))
      graft.sinks.LineFileSink.writeSeqNamed(raw, s"$dir/log", col("ts"),
        maxRecordsPerFile = chunk)
      val parsed = graft.streaming.EventStream.parse(
          graft.sources.Sources.recordsBatch(spark, s"$dir/log"))
        .withColumnRenamed("id", "sequenceNumber")
        .selectExpr("sequenceNumber", "orig_data AS data",
          "coalesce(ts, current_timestamp()) AS ts")
      val sel = parsed.select(
        graft.functions.EventFunctions.formatLine(col("sequenceNumber"), col("data")).as("value"),
        date_format(col("ts"), "yyyy").as("year"),
        date_format(col("ts"), "MM").as("month"),
        date_format(col("ts"), "dd").as("day"))
      if (chunk == 5000) println(sel.queryExecution.optimizedPlan.toString.take(4000))
      // upper-bound probe for a native fast-path ts extraction: regex on
      // the RAW envelope instead of the two pruned from_json parses (not
      // generally correct — depth-blind — but bounds what a real native
      // scanner could gain on this shape). MEASURED CONCLUSION (100k
      // rows): ~equal at partial parallelism, ~2x read-stage-only at full
      // parallelism — a ~0.5 µs/row ceiling, <10% of the end-to-end
      // pipeline. The pruned-schema Jackson path (OptimizeJsonExprs
      // rewrites both from_json calls to single-field schemas — see the
      // optimized plan printed above) is already close enough that a
      // hand-rolled depth-tracking scanner isn't worth its correctness
      // surface; kept here as the evidence.
      val rawSrc = graft.sources.Sources.recordsBatch(spark, s"$dir/log")
      val selFast = rawSrc.select(
        graft.functions.EventFunctions.formatLine(col("sequenceNumber"), col("data")).as("value"),
        expr("""timestamp_millis(cast(regexp_extract(data, '\\\\"t\\\\":(\\d+)', 1) as bigint))""").as("ts0"))
        .select(col("value"),
          date_format(col("ts0"), "yyyy").as("year"),
          date_format(col("ts0"), "MM").as("month"),
          date_format(col("ts0"), "dd").as("day"))
      for (rep <- 0 to 2) {
        val t0 = System.nanoTime()
        selFast.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        if (rep > 0) println(f"chunk=$chunk rep=$rep fastpath_read_parse_sec=$dt%.3f")
      }
      // warm + 2 timed reps
      for (rep <- 0 to 2) {
        val t0 = System.nanoTime()
        sel.write.partitionBy("year", "month", "day")
          .option("compression", "gzip").mode("overwrite").text(s"$dir/out")
        val dt = (System.nanoTime() - t0) / 1e9
        if (rep > 0) println(f"chunk=$chunk rep=$rep n=$n batch_write_sec=$dt%.3f rows_per_sec=${n / dt}%.0f")
      }
      // floor decomposition: (a) read+parse only (noop sink), (b) write
      // job only (pre-materialized rows), (c) empty-job scheduling floor —
      // attributes the per-micro-batch fixed cost to source, sink, or
      // scheduler instead of one lumped addBatch number. A listener splits
      // each job into task compute (sum + max of task run time), task
      // deserialization, and driver-side gap (job wall - stage wall).
      val taskStats = new org.apache.spark.scheduler.SparkListener {
        val runMs = new java.util.concurrent.atomic.AtomicLong
        val maxMs = new java.util.concurrent.atomic.AtomicLong
        val deserMs = new java.util.concurrent.atomic.AtomicLong
        val nTasks = new java.util.concurrent.atomic.AtomicLong
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) {
            runMs.addAndGet(m.executorRunTime)
            maxMs.getAndUpdate(c => math.max(c, m.executorRunTime))
            deserMs.addAndGet(m.executorDeserializeTime)
            nTasks.incrementAndGet()
          }
        }
        def snap(): (Long, Long, Long, Long) = {
          val r = (runMs.get, maxMs.get, deserMs.get, nTasks.get)
          runMs.set(0); maxMs.set(0); deserMs.set(0); nTasks.set(0)
          r
        }
      }
      spark.sparkContext.addSparkListener(taskStats)
      for (rep <- 0 to 2) {
        val t0 = System.nanoTime()
        sel.write.format("noop").mode("overwrite").save()
        val tRead = (System.nanoTime() - t0) / 1e9
        Thread.sleep(150) // let the listener bus drain (private API in 4.x)
        val (rr, rmax, rdes, rn) = taskStats.snap()
        val cached = sel.localCheckpoint()
        taskStats.snap()
        val t1 = System.nanoTime()
        cached.write.partitionBy("year", "month", "day")
          .option("compression", "gzip").mode("overwrite").text(s"$dir/out2")
        val tWrite = (System.nanoTime() - t1) / 1e9
        Thread.sleep(150) // let the listener bus drain (private API in 4.x)
        val (wr, wmax, wdes, wn) = taskStats.snap()
        val t2 = System.nanoTime()
        spark.range(0, 4, 1, 4).write.format("noop").mode("overwrite").save()
        val tSched = (System.nanoTime() - t2) / 1e9
        taskStats.snap()
        if (rep > 0) {
          println(f"chunk=$chunk rep=$rep floor: read_parse_sec=$tRead%.3f " +
            f"write_only_sec=$tWrite%.3f empty_job_sec=$tSched%.3f")
          println(f"chunk=$chunk rep=$rep tasks: read n=$rn sum_run_ms=$rr max_run_ms=$rmax deser_ms=$rdes " +
            f"driver_gap_ms=${(tRead * 1000).toLong - rmax}; " +
            f"write n=$wn sum_run_ms=$wr max_run_ms=$wmax deser_ms=$wdes " +
            f"driver_gap_ms=${(tWrite * 1000).toLong - wmax}")
        }
      }
      spark.sparkContext.removeSparkListener(taskStats)
    }
    spark.stop()
  }
}
