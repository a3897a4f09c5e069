package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.EventFunctions._

/** K1+K2 — the reference's buffer-and-upload path (gzip line files,
  * date-partitioned object layout) re-expressed as a Spark file sink.
  *
  * Reference behavior (/root/reference/src/kinesis3/core.clj):
  *  - lines are `"<seq> <data>"` appended to a gzip stream (core.clj:153,
  *    100-107)
  *  - rotation uploads to `<bucket>/kinesis3/<stream>/yyyy/MM/dd/
  *    <last-seq>.records.log.gz` (core.clj:41-58)
  *
  * Spark-first mapping: the gzip buffering, rotation, and upload protocol
  * are the file sink's job (task-local buffer → commit); the date key
  * layout becomes `partitionBy(year, month, day)` — which additionally
  * buys partition pruning on re-read, which the reference's flat key
  * layout cannot do. Works identically for `df.write` (batch) and
  * `df.writeStream` (rotation = micro-batch boundary; see
  * streaming.EventStream). */
object LineFileSink {

  /** Write (sequenceNumber, data) rows as date-partitioned gzip line files.
    * `maxRecordsPerFile` enforces the reference's count-based rotation cap
    * (T1 batch-size contract) inside each partition directory. */
  def write(
      raw: DataFrame,
      path: String,
      tsCol: Column,
      maxRecordsPerFile: Long = graft.streaming.RotationTrigger.DefaultBatchSize,
      mode: String = "overwrite"): Unit =
    raw.select(
        formatLine(col("sequenceNumber"), col("data")).as("value"),
        date_format(tsCol, "yyyy").as("year"),
        date_format(tsCol, "MM").as("month"),
        date_format(tsCol, "dd").as("day"))
      .write
      .partitionBy("year", "month", "day")
      .option("compression", "gzip")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(mode)
      .text(path)

  /** Re-read the line files back into (sequenceNumber, data) via the F11
    * fixed-offset split (utils.clj:17-19) — the lossless inverse of write.
    * Date partitions prune on `year`/`month`/`day` filters. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(
        lineSeqNumber(col("value")).as("sequenceNumber"),
        linePayload(col("value")).as("data"))

  /** Date-aware reader over the same Hive-partitioned layout: keeps the
    * discovered `year`/`month`/`day` partition columns so a date filter
    * PRUNES at the file index (the scan never lists, opens, or decodes
    * the other days — the property that makes "read one day of a 100 TB
    * log" cost one day, pinned in SinkSpec). Partition type inference
    * reads the writer's zero-padded directory values as INTEGERS
    * (`month=02` → 2), so the columns are exposed as ints — filter with
    * `col("month") === 2`, not `"02"`. */
  def readDated(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(
        lineSeqNumber(col("value")).as("sequenceNumber"),
        linePayload(col("value")).as("data"),
        col("year").cast("int").as("year"),
        col("month").cast("int").as("month"),
        col("day").cast("int").as("day"))

  private val SeqFileSuffix = ".records.log.gz"

  /** Reader for the [[writeSeqNamed]] layout: its `yyyy/MM/dd` directories
    * are the reference's raw object-key layout, not Hive `k=v` partitions,
    * so the scan needs recursive file lookup (and gets no partition
    * pruning — use [[write]]/[[read]] when pruning matters; this layout's
    * value is the resume-cursor naming). */
  def readSeqNamed(spark: SparkSession, path: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").text(path)
      .select(
        lineSeqNumber(col("value")).as("sequenceNumber"),
        linePayload(col("value")).as("data"))

  /** K2's exact object-naming contract: the reference uploads each rotated
    * buffer to `<bucket>/kinesis3/<stream>/yyyy/MM/dd/<last-seq>.records.log.gz`
    * (core.clj:41-58) — the file NAME is the last sequence number it
    * contains, so the key set doubles as a resume cursor ([[lastCursor]]):
    * a restarting consumer lists keys and resumes after the maximum.
    *
    * Spark mapping: rows are repartitioned on the date key and sorted by
    * sequence number within partitions; each task streams its rows into
    * gzip chunks of ≤ `maxRecordsPerFile` lines and commits every chunk as
    * `yyyy/MM/dd/<last-seq-in-chunk>.records.log.gz` (write-temp + rename
    * via the Hadoop FileSystem API, so the same code path serves local
    * disk, HDFS, or an S3A bucket). Replaying a batch rewrites the same
    * names with the same contents — idempotent like the reference's PUT.
    * Memory per task is one chunk's lines, bounded by `maxRecordsPerFile`. */
  def writeSeqNamed(
      raw: DataFrame,
      path: String,
      tsCol: Column,
      maxRecordsPerFile: Long = graft.streaming.RotationTrigger.DefaultBatchSize): Unit = {
    val prepared = raw.select(
        formatLine(col("sequenceNumber"), col("data")).as("value"),
        date_format(tsCol, "yyyy").as("year"),
        date_format(tsCol, "MM").as("month"),
        date_format(tsCol, "dd").as("day"),
        col("sequenceNumber").cast("string").as("seq"))
      .repartition(col("year"), col("month"), col("day"))
      .sortWithinPartitions(col("year"), col("month"), col("day"), col("seq"))
    val maxPerFile = maxRecordsPerFile
    val root = path
    // the session's resolved Hadoop conf (spark.hadoop.* settings,
    // credentials), shipped in the closure: an object-store root binds
    // with the session's settings, and no task re-parses the default XMLs
    val hconf = new graft.sources.SerializableHadoopConf(
      raw.sparkSession.sessionState.newHadoopConf())
    prepared.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(root), hconf.value)
        val buf = new scala.collection.mutable.ArrayBuffer[String]()
        var key: (String, String, String) = null
        var lastSeq: String = null
        def flush(): Unit = if (buf.nonEmpty) {
          val dir = new org.apache.hadoop.fs.Path(s"$root/${key._1}/${key._2}/${key._3}")
          fs.mkdirs(dir)
          val dest = new org.apache.hadoop.fs.Path(dir, s"$lastSeq$SeqFileSuffix")
          val tmp = new org.apache.hadoop.fs.Path(dir, s".$lastSeq$SeqFileSuffix.tmp")
          val out = new java.util.zip.GZIPOutputStream(fs.create(tmp, true))
          try buf.foreach { l => out.write(l.getBytes("UTF-8")); out.write('\n') }
          finally out.close()
          if (fs.exists(dest)) fs.delete(dest, false)
          if (!fs.rename(tmp, dest))
            throw new java.io.IOException(s"rename $tmp -> $dest failed")
          buf.clear()
        }
        rows.foreach { r =>
          val k = (r.getString(1), r.getString(2), r.getString(3))
          if (key != null && (k != key || buf.size >= maxPerFile)) flush()
          key = k
          lastSeq = r.getString(4)
          buf += r.getString(0)
        }
        flush()
      }
    }
  }

  /** Resume cursor over a [[writeSeqNamed]] layout: the maximum sequence
    * number across all committed file names (the reference's restart
    * contract — the key listing IS the progress record). Driver-side
    * listing: this probes a cursor, it does not scan data. */
  def lastCursor(spark: SparkSession, path: String): Option[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) return None
    var max: Option[String] = None
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val name = it.next().getPath.getName
      if (name.endsWith(SeqFileSuffix)) {
        val seq = name.dropRight(SeqFileSuffix.length)
        if (max.forall(_ < seq)) max = Some(seq)
      }
    }
    max
  }
}
