package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks.ManifestUpsertSink

/** lake_rw: a single client runs the harness' seeded operation sequence
  * against one 16-bucket manifest table in a closed loop: copy-on-write
  * upserts, merge-on-read deletes and upserts, incremental compactions,
  * point lookups, snapshot aggregates and time-travel aggregates. Set-up
  * seeds fresh tables, and runs the sequence's first cycle (the warm-up)
  * on the first of them; the measured loop runs the next `cycles` cycles
  * on the last one. After every write, outside the timed region, it
  * records the snapshot's fingerprint, version and on-disk bytes for the
  * model check. */
object LakeRw {
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("v", LongType),
    StructField("seq", LongType), StructField("payload", StringType)))

  /** A generated row, `[id, v, seq, payload]`. */
  private def row(r: JsonNode): Row = Row(r.get(0).asLong, r.get(1).asLong, r.get(2).asLong, r.get(3).asText)

  /** (count, Σ id, Σ crc32("id|v|seq|payload")): the order-insensitive
    * fingerprint the harness recomputes from its model. */
  def fingerprint(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("id")), lit(0L)),
      coalesce(sum(crc32(concat_ws("|", col("id"), col("v"), col("seq"), col("payload"))
        .cast("binary"))), lit(0L))).head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val plan = Json.read(s"${ctx.work}/lake_plan.json")
    val buckets = plan.get("buckets").asInt
    val cycle = plan.get("cycle").asInt
    val cycles = plan.get("cycles").asInt
    val compactMinFiles = plan.get("compact_min_files").asInt
    val seedRows = Json.readLines(s"${ctx.work}/lake_seed.jsonl").map(row).toVector
    val ops = Json.readLines(s"${ctx.work}/lake_ops.jsonl").toVector
    def frame(rs: Seq[Row]): DataFrame = spark.createDataFrame(rs.asJava, Schema)

    /** One table under test and the versions its writes committed, oldest first. */
    final class Table(val root: String) {
      val sink = new ManifestUpsertSink(root, "id", buckets)
      val versions = scala.collection.mutable.ArrayBuffer.empty[Long]
      var snapFiles = 0L
      /** Reads the latest snapshot's (version, data files) from `history()`. */
      def refresh(): Unit = {
        val h = ManifestUpsertSink.history(spark, root).orderBy(col("version").desc).head()
        val v = h.getAs[Long]("version")
        if (versions.isEmpty || v > versions.last) versions += v
        snapFiles = h.getAs[Long]("n_files")
      }
    }

    /** Runs operation `i` on `t`; returns its record for the harness. */
    def runOp(t: Table, i: Int): Map[String, Any] = {
      val op = ops(i)
      val kind = op.get("kind").asText
      val tag = s"op:$i:$kind"
      val root = t.root
      // statement inputs (driver-local relations) are built before the clock starts
      val input: DataFrame = kind match {
        case "upsert" | "mor_upsert" => frame(op.get("rows").elements().asScala.map(row).toSeq)
        case "mor_delete" => spark.createDataFrame(op.get("keys").elements().asScala
            .map(k => Row(k.asLong)).toSeq.asJava, StructType(Seq(StructField("id", LongType))))
        case _ => null
      }
      // time travel to the version committed `back` writes ago
      val readVersion = if (kind != "read_version") -1L
        else t.versions(math.max(0, t.versions.size - 1 - op.get("back").asInt))
      val bytesBefore = Main.dirBytes(root)
      val dataFilesBefore = if (ctx.traced) dataFiles(root) else 0L
      ctx.obs.begin(tag)
      val t0 = System.nanoTime()
      val result: Any = kind match {
        case "upsert" => ctx.tracer.span("sinks.ManifestUpsertSink.upsertBatch") {
            t.sink.upsertBatch(input, "seq", ManifestUpsertSink.AdHocBatch) }
        case "mor_upsert" => ctx.tracer.span("sinks.ManifestUpsertSink.upsertMergeOnRead") {
            t.sink.upsertMergeOnRead(input, "seq", ManifestUpsertSink.AdHocBatch) }
        case "mor_delete" => ctx.tracer.span("sinks.ManifestUpsertSink.deleteKeysMergeOnRead") {
            t.sink.deleteKeysMergeOnRead(input, ManifestUpsertSink.AdHocBatch) }
        case "compact" => ctx.tracer.span("sinks.ManifestUpsertSink.compactIncremental") {
            t.sink.compactIncremental(spark, minFilesPerBucket = compactMinFiles) }
        case "lookup" => ctx.tracer.span("sources.ManifestSource.lookup") {
            ManifestUpsertSink.read(spark, root).where(col("id") === op.get("key").asLong).collect()
              .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq }
        case "scan" => ctx.tracer.span("sources.ManifestSource.scan") {
            fingerprint(ManifestUpsertSink.read(spark, root)) }
        case "read_version" => ctx.tracer.span("sources.ManifestSource.readVersion") {
            fingerprint(ManifestUpsertSink.readVersion(spark, root, readVersion)) }
      }
      val wall = Main.secondsSince(t0)
      val (ts, ph) = ctx.obs.collect(tag)
      val write = Set("upsert", "mor_upsert", "mor_delete", "compact")(kind)
      val after: Map[String, Any] = if (!write) Map.empty else {
        t.refresh()
        Map("version" -> t.versions.last, "fp" -> fingerprint(ManifestUpsertSink.read(spark, root)),
          "bytes_written" -> (Main.dirBytes(root) - bytesBefore))
      }
      // traced runs: the snapshot's shape, from history() and directory walks
      val snapshot: Map[String, Any] = if (!ctx.traced) Map.empty else {
        Map("snapshot_files" -> t.snapFiles, "table_bytes" -> Main.dirBytes(root)) ++
          (if (!write) Map.empty else Map("dv_files" -> dvFiles(root),
            "data_files_added" -> (dataFiles(root) - dataFilesBefore)))
      }
      Map("i" -> i, "kind" -> kind, "wall_s" -> wall, "result" -> result,
        "read_version" -> readVersion) ++ after ++ snapshot ++
        (if (ctx.traced) Observer.summary(ts, ph) else Map.empty)
    }

    // set-up, repeated on fresh tables: seed the table and warm its read
    // path; the first table then runs the warm-up ops, the last is measured
    var table: Table = null
    var seedState = Map.empty[String, Any]
    var warm = Seq.empty[Map[String, Any]]
    var warmS = 0.0
    val setup = (1 to ctx.setupReps).map { i =>
      if (table != null) Main.rmTree(table.root)
      table = new Table(s"${ctx.work}/lake/t$i")
      val t0 = System.nanoTime()
      table.sink.upsertBatch(frame(seedRows), "seq", ManifestUpsertSink.AdHocBatch)
      ManifestUpsertSink.read(spark, table.root).where(col("id") === -1L).collect()
      table.refresh()
      seedState = Map("version" -> table.versions.last,
        "fp" -> fingerprint(ManifestUpsertSink.read(spark, table.root)))
      val seeded = Main.secondsSince(t0)
      if (i == 1) {
        val t1 = System.nanoTime()
        warm = (0 until cycle).map(runOp(table, _))
        warmS = Main.secondsSince(t1)
      }
      seeded
    }

    val done = Vector.newBuilder[Map[String, Any]]
    val startFiles = table.snapFiles
    var busy = 0.0
    (cycle until cycle * (1 + cycles)).foreach { i =>
      val rec = runOp(table, i)
      busy += rec("wall_s").asInstanceOf[Double]
      done += rec
    }
    Map("setup_s" -> setup, "warm_s" -> warmS, "seed" -> seedState, "warm" -> warm, "ops" -> done.result(),
      "start_snapshot_files" -> startFiles, "busy_s" -> busy,
      "final_fp" -> fingerprint(ManifestUpsertSink.read(spark, table.root)))
  }

  private def countFiles(root: String)(keep: String => Boolean): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.filter(f => java.nio.file.Files.isRegularFile(f) && keep(f.toString)).count()
    finally s.close()
  }

  // data files live under data/v<N>-<tag>/, deletion-vector sidecars
  // under data/v<N>-<tag>-dv/
  private def isDv(p: String): Boolean = p.contains("-dv/")

  /** Parquet data files on disk, live or not (a directory walk). */
  private def dataFiles(root: String): Long =
    countFiles(s"$root/data")(p => p.endsWith(".parquet") && !isDv(p))

  /** Deletion-vector sidecar files on disk, live or not (a directory walk). */
  private def dvFiles(root: String): Long =
    countFiles(s"$root/data")(p => p.endsWith(".parquet") && isDv(p))
}
