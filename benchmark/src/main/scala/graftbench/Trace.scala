package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span per call into a layer: name, start, end (ns since the run
  * began), parent span id (-1 at the root) and the run id shared by every
  * span of one benchmark run. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, run: String)

/** Spans kept in memory and written out when the run ends. With tracing
  * off, `span` only runs its body. */
final class Tracer(val on: Boolean, val run: String) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val s = System.nanoTime()
      try body
      finally {
        stack.set(stack.get.tail)
        record(Span(id, parent, name, s - t0, System.nanoTime() - t0, run))
      }
    }

  /** A span observed after the fact (a streaming trigger reported by its
    * progress event), given in wall-clock milliseconds. */
  def recordWall(name: String, startMs: Long, endMs: Long): Unit = if (on) {
    val offsetMs = System.currentTimeMillis() - (System.nanoTime() - t0) / 1000000L
    val id = synchronized { nextId += 1; nextId }
    record(Span(id, -1, name, (startMs - offsetMs) * 1000000L, (endMs - offsetMs) * 1000000L, run))
  }

  private def record(s: Span): Unit = synchronized { spans += s; () }

  def write(path: String): Unit = if (on) {
    val lines = synchronized(spans.toList).sortBy(_.startNs).map(s => Json.render(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run" -> s.run)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** What Spark did for one tagged operation, summed from listener events. */
final class TagStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** (stage wall ms, slowest task / median task) of the tag's slowest stage */
  var slowestStage: (Long, Double) = (-1L, 1.0)

  /** Wall time covered by at least one running job (jobs may overlap). */
  def jobMs: Long = {
    var covered = 0L
    var end = Long.MinValue
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }
}

/** SparkListener that attributes jobs, stages and tasks to the operation
  * that caused them. The client thread names its operation with the local
  * property [[SparkStats.TagKey]]; streaming micro-batches are attributed
  * to `batch:<id>` from Spark's own batch-id property. */
final class SparkStats extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, TagStats]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  private val taskDur = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(q => Option(q.getProperty("streaming.sql.batchId")).map("batch:" + _)
      .orElse(Option(q.getProperty(SparkStats.TagKey)))).getOrElse("untagged")

  private def stats(tag: String) = byTag.getOrElseUpdate(tag, new TagStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    jobStart(e.jobId) = (tag, e.time)
    e.stageIds.foreach(stageTag(_) = tag)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (tag, t) =>
      val s = stats(tag); s.jobs += 1; s.jobSpans += ((t, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageTag.getOrElse(e.stageId, "untagged"))
    s.tasks += 1
    taskDur.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.taskRunMs += m.executorRunTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stats(stageTag.getOrElse(info.stageId, "untagged"))
    s.stages += 1
    val durs = taskDur.remove(info.stageId).getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
    val wall = (for (a <- info.submissionTime; b <- info.completionTime) yield b - a).getOrElse(0L)
    if (durs.nonEmpty && wall > s.slowestStage._1) {
      val med = math.max(1L, durs(durs.size / 2))
      s.slowestStage = (wall, durs.last.toDouble / med)
    }
  }

  /** Removes and returns the counts gathered for `tag`. */
  def take(tag: String): TagStats = synchronized(byTag.remove(tag).getOrElse(new TagStats))
}

object SparkStats {
  val TagKey = "graftbench.tag"
}

/** Planning phases of each finished query, in completion order, read from
  * `QueryExecution.tracker`. */
final class PlanStats extends QueryExecutionListener {
  private val done = mutable.ArrayBuffer.empty[Map[String, Long]]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    // files and bytes the file scans read, from the scans' SQL metrics
    val scans = PlanStats.nodes(qe.executedPlan).flatMap(n =>
      Seq("numFiles", "filesSize").flatMap(m => n.metrics.get(m).map(m -> _.value)))
    val files = scans.collect { case ("numFiles", v) => v }.sum
    val bytes = scans.collect { case ("filesSize", v) => v }.sum
    synchronized { done += ph + ("files_scanned" -> files) + ("bytes_scanned" -> bytes); () }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Planning-phase totals (ms) and scan counts (`files_scanned`,
    * `bytes_scanned`) over every query finished since the last call. */
  def drain(): Map[String, Long] = synchronized {
    val all = done.toList
    done.clear()
    all.flatten.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object PlanStats {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** The listeners a traced run registers, and the per-operation protocol:
  * tag the operation, run it, then (outside its timing) wait for the
  * listener bus and collect what it caused. */
final class Observer(spark: SparkSession, val on: Boolean) {
  val jobs = new SparkStats
  val plans = new PlanStats
  if (on) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }

  /** Starts operation `t`: earlier events are flushed and dropped, so
    * checks run between operations are never charged to one. */
  def begin(t: String): Unit = {
    if (on) {
      org.apache.spark.BenchAccess.waitForListeners(spark.sparkContext)
      plans.drain(); jobs.take("untagged")
    }
    spark.sparkContext.setLocalProperty(SparkStats.TagKey, t)
  }

  /** (Spark counts, planning phases) caused by the operations tagged `t`. */
  def collect(t: String): (TagStats, Map[String, Long]) = {
    spark.sparkContext.setLocalProperty(SparkStats.TagKey, null)
    if (!on) (new TagStats, Map.empty)
    else {
      org.apache.spark.BenchAccess.waitForListeners(spark.sparkContext)
      (jobs.take(t), plans.drain())
    }
  }
}

object Observer {
  /** One traced operation as the harness reads it. */
  def summary(t: TagStats, phases: Map[String, Long]): Map[String, Any] = Map(
    "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks, "job_ms" -> t.jobMs,
    "task_run_ms" -> t.taskRunMs, "shuffle_bytes" -> t.shuffleBytes,
    "spill_bytes" -> t.spillBytes, "input_bytes" -> t.inputBytes,
    "input_records" -> t.inputRecords, "output_bytes" -> t.outputBytes,
    "max_task_over_median" -> t.slowestStage._2,
    "analysis_ms" -> phases.getOrElse("analysis", 0L),
    "optimization_ms" -> phases.getOrElse("optimization", 0L),
    "planning_ms" -> phases.getOrElse("planning", 0L),
    "files_scanned" -> phases.getOrElse("files_scanned", 0L),
    "bytes_scanned" -> phases.getOrElse("bytes_scanned", 0L))
}
