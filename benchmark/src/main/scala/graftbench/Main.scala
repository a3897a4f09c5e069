package graftbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its work directory (inputs
  * from the harness, outputs for its gates), the measuring window, and the
  * tracing switches. */
final case class Ctx(spark: SparkSession, work: String, seconds: Double, cores: Int,
    setupReps: Int, tracer: Tracer, obs: Observer) {
  def traced: Boolean = tracer.on
}

/** The benchmark's JVM side: one workload per process. The harness
  * (run.py) generates the inputs, starts this with
  * `--workload W --work DIR --seconds S --trace 0|1 --cores N
  * --setup-reps R --run ID`, and reads
  * `DIR/jvm.json` (and `DIR/spans.jsonl` when traced) afterwards. Only
  * graft's public entry points are called; all measurement happens here,
  * around those calls, or in Spark's public listeners. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    val cores = opts("cores").toInt
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(graft.Tables.sessionConf)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(opts("trace") == "1", opts("run"))
    val ctx = Ctx(spark, work, opts("seconds").toDouble, cores,
      opts("setup-reps").toInt, tracer, new Observer(spark, tracer.on))
    try {
      // several comma-separated workloads run in turn (the build's
      // class-loading training run); jvm.json holds the last one's output
      val out = opts("workload").split(",").map {
        case "ingest" => Ingest.run(ctx)
        case "lake_rw" => LakeRw.run(ctx)
        case "query_mix" => QueryMix.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }.last
      Json.write(s"$work/jvm.json", out + ("session_s" -> sessionS))
      tracer.write(s"$work/spans.jsonl")
    } finally spark.stop()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Bytes of the regular files under `root` (a directory walk). */
  def dirBytes(root: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  def rmTree(root: String): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }
}
