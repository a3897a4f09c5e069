package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.stats.{StatsServer, StreamMetrics}
import graft.streaming.EventStream

/** ingest: the collector job wired as `Engine.start()` wires it — the
  * `graft-records` source over a seq-named record log, `EventStream.parse`,
  * `EventStream.startLineFileSink`, with `StreamMetrics` and `StatsServer`
  * live and one `/stats` poller. Two phases on one streaming query:
  *  - drain: the pre-written log, `maxChunksPerTrigger` = cores;
  *  - paced: an open loop whose generator thread moves one pre-written
  *    chunk into the log every `period_ms`, on a fixed schedule.
  * Trigger timings come from `StreamingQueryProgress`; the harness turns
  * them into rates and due-time latencies. */
object Ingest {
  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val in = s"${ctx.work}/ingest"
    val plan = Json.read(s"$in/ingest_plan.json")
    val conf = Json.read(s"${ctx.work}/ingest_run.json")
    val periodMs = conf.get("period_ms").asLong
    val intervalMs = conf.get("interval_ms").asLong
    val logDir = s"$in/log"
    val paced = plan.get("paced").elements().asScala.map(p =>
      (p.get("file").asText, p.get("last_seq").asText)).toVector

    def start(log: String, out: String): StreamingQuery = {
      val raw = spark.readStream.format("graft-records")
        .option("maxChunksPerTrigger", ctx.cores.toLong).load(log)
      val parsed = EventStream.parse(raw)
        .withColumnRenamed("id", "sequenceNumber")
        .selectExpr("sequenceNumber", "orig_data AS data", "coalesce(ts, current_timestamp()) AS ts")
      EventStream.startLineFileSink(parsed, s"$out/out", s"$out/ckpt", intervalMs = intervalMs)
    }

    // set-up, repeated: a short stream over the warm-up log, start to stop
    val setup = (1 to ctx.setupReps).map { i =>
      val t0 = System.nanoTime()
      val q = start(s"$in/warm", s"${ctx.work}/warm$i")
      q.processAllAvailable(); q.stop()
      Main.secondsSince(t0)
    }

    val metrics = new StreamMetrics
    spark.streams.addListener(metrics)
    val server = new StatsServer(0, "graftbench", metrics)
    val port = server.start()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        if (e.progress.numInputRows > 0) progress.add(e.progress); ()
      }
    }
    spark.streams.addListener(listener)

    val stop = new AtomicBoolean(false)
    val polls = new ConcurrentLinkedQueue[Double]()
    val poller = new Thread(() => {
      while (!stop.get()) {
        val t0 = System.nanoTime()
        ctx.tracer.span("stats.get") { getStats(port) }
        polls.add((System.nanoTime() - t0) / 1e6)
        Thread.sleep(conf.get("poll_ms").asLong)
      }
    }, "graftbench-stats-poller")
    poller.setDaemon(true)
    poller.start()

    def committed(seq: String): Boolean = progress.asScala.exists(p => endSeq(p) >= seq)
    def awaitCommitted(seq: String, what: String): Unit = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!committed(seq)) {
        require(System.nanoTime() < deadline, s"$what: offset $seq not committed in 120 s")
        Thread.sleep(2)
      }
    }

    val q = ctx.tracer.span("streaming.start") { start(logDir, s"${ctx.work}/main") }
    val drainT0 = System.currentTimeMillis()
    ctx.tracer.span("ingest.drain") {
      awaitCommitted(plan.get("drain_last_seq").asText, "drain")
    }
    // paced phase: the generator thread appends chunk i at base + i·period
    val appended = new Array[Long](paced.size)
    val base = System.currentTimeMillis() + 200L
    val generator = new Thread(() => {
      paced.zipWithIndex.foreach { case ((file, _), i) =>
        val due = base + i * periodMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val src = Paths.get(in, file)
        val dst = Paths.get(logDir, Paths.get(in, "paced", i.toString).relativize(src).toString)
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
        appended(i) = System.currentTimeMillis()
      }
    }, "graftbench-generator")
    generator.start()
    ctx.tracer.span("ingest.paced") {
      generator.join()
      awaitCommitted(paced.last._2, "paced")
    }
    q.stop()
    stop.set(true)
    poller.join()
    val exception = q.exception.map(_.toString)
    org.apache.spark.BenchAccess.waitForListeners(spark.sparkContext)
    val finalStats = getStats(port)
    server.stop()
    spark.streams.removeListener(metrics)
    spark.streams.removeListener(listener)

    val triggers = progress.asScala.toVector.sortBy(_.batchId).map { p =>
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      ctx.tracer.recordWall(s"streaming.trigger", startMs, startMs + d.getOrElse("triggerExecution", 0L))
      val exec = if (!ctx.traced) Map.empty[String, Any] else {
        val t = ctx.obs.jobs.take(s"batch:${p.batchId}")
        Map("jobs" -> t.jobs, "tasks" -> t.tasks, "task_run_ms" -> t.taskRunMs)
      }
      Map("batch" -> p.batchId, "rows" -> p.numInputRows, "start_ms" -> startMs,
        "durations" -> d, "end_seq" -> endSeq(p)) ++ exec
    }

    // gate inputs, outside the timed phases: parsed counts over the
    // spot-check records (the log's first records, by sequence number)
    val parsedLog = EventStream.parse(spark.read.format("graft-records").load(logDir)
      .where(col("sequenceNumber") <= plan.get("spot_last_seq").asText))
    val utm = parsedLog.groupBy(col("utm_source")).count().collect()
      .map(r => Option(r.getString(0)).getOrElse("null") -> r.getLong(1)).toMap
    val sid = parsedLog.agg(count(lit(1)), sum(crc32(
      get_json_object(col("cookies"), "$.sid").cast("binary")))).head()

    val split = if (!ctx.traced) Map.empty[String, Any] else splitStage(ctx, logDir)
    Map("setup_s" -> setup, "drain_start_ms" -> drainT0, "triggers" -> triggers,
      "generator" -> paced.indices.map(i => Map("due_ms" -> (base + i * periodMs), "appended_ms" -> appended(i))),
      "stats_poll_ms" -> polls.asScala.toVector, "stats_final" -> finalStats,
      "spot" -> Map("utm_source_counts" -> utm, "rows" -> sid.getLong(0), "sid_crc_sum" -> sid.getLong(1)),
      "query_exception" -> exception, "split" -> split)
  }

  /** Times the two halves of the fused parse+write stage apart: a batch
    * `EventStream.parse` over the whole log into the noop sink, and
    * `LineFileSink.write` of the same rows already parsed. */
  private def splitStage(ctx: Ctx, logDir: String): Map[String, Any] = {
    val spark = ctx.spark
    val raw = spark.read.format("graft-records").load(logDir)
    val rows = raw.count()
    val t0 = System.nanoTime()
    ctx.tracer.span("etl.EventStream.parse") {
      EventStream.parse(raw).write.format("noop").mode("overwrite").save()
    }
    val parseS = Main.secondsSince(t0)
    val pre: DataFrame = EventStream.parse(raw)
      .select(col("id").as("sequenceNumber"), col("orig_data").as("data"), col("ts")).cache()
    pre.count()
    val t1 = System.nanoTime()
    ctx.tracer.span("sinks.LineFileSink.write") {
      graft.sinks.LineFileSink.write(pre, s"${ctx.work}/split_sink", col("ts"))
    }
    val writeS = Main.secondsSince(t1)
    pre.unpersist()
    Map("rows" -> rows, "parse_s" -> parseS, "write_s" -> writeS)
  }

  private def endSeq(p: StreamingQueryProgress): String =
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .map(o => Json.parse(o).path("maxSeq").asText("")).getOrElse("")

  private def getStats(port: Int): String = {
    val in = new java.net.URL(s"http://127.0.0.1:$port/stats").openStream()
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
}
