package graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sinks.{ManifestStats, TableStore}

/** Loaders for the driver corpus (TESTDATA.md): one parquet per table under
  * a scale-factor directory. Columns/filters are pruned/pushed by Catalyst at
  * the parquet scan, so loaders never pre-select — callers declare what they
  * need and the optimizer trims the scan (`ReadSchema`/`PushedFilters`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The table `table` of the corpus under `dir`, through [[readParquet]]:
    * building the frame runs no Spark job, where `spark.read.parquet`
    * runs one to infer the schema. On the benchmark's `query_mix` (seed
    * 2, 4 cores) that took the four short queries' DataFrame analysis
    * from 406 to 153 ms a pass. */
  def load(spark: SparkSession, dir: String, table: String): DataFrame =
    readParquet(spark, Seq(s"$dir/$table.parquet"))

  /** `spark.read.parquet(paths: _*)` with the schema read from the first
    * path's footer on the driver, when that path is one regular file.
    * Spark's own inference reads one footer too, but in a Spark job
    * (`SchemaMergeUtils.mergeSchemasInParallel` runs
    * `parallelize(…).collect()` even for one file); here the footer
    * costs a file status and one read (`ManifestStats.openFooter` over
    * the shared `TableStore.hadoopConf`), and the conversion is Spark's
    * own (`GraftParquetBridge`), so the schema, nullability and field
    * metadata are what Spark would infer. All the paths must share one
    * schema, as they must for Spark's non-merging inference, which also
    * reads a single file.
    *
    * Anything else keeps `spark.read.parquet` and its schema and errors:
    * no paths, a directory, a glob, a missing path, a footer that fails
    * to read (a remote scheme whose credentials only the session conf
    * carries, a corrupt file). Nothing is cached: the footer read costs
    * less than the file listing Spark makes for the read anyway. */
  private[graft] def readParquet(spark: SparkSession, paths: Seq[String]): DataFrame =
    paths.headOption.flatMap(footerSchema(spark, _)) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None         => spark.read.parquet(paths: _*)
    }

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else try {
      val conf = TableStore.hadoopConf
      val p = new HPath(path)
      val status = p.getFileSystem(conf).getFileStatus(p)
      if (!status.isFile) None
      else {
        val reader = ManifestStats.openFooter(HadoopInputFile.fromStatus(status, conf))
        try Some(GraftParquetBridge.schemaOf(spark, status.getPath, reader.getFooter))
        finally reader.close()
      }
    } catch { case NonFatal(_) => None }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** Session configuration every graft session needs at build time.
    * `spark.sql.legacy.parquet.nanosAsLong`: some generations of the driver
    * corpus write `events.ts` as parquet TIMESTAMP(NANOS), which Spark's
    * reader otherwise rejects outright (PARQUET_TYPE_ILLEGAL); the flag
    * reads it as LongType nanos. Harmless when the corpus is µs-encoded.
    * Applied once at SparkSession build (Bench/Verify/Engine/specs) — NOT
    * per table load: a `conf.set` inside a loader is a hidden global write,
    * order-dependent under concurrent plan building and surprising to any
    * caller reading other nanos parquet. The `spark.hadoop.fs.file.impl`
    * entry reaches every Hadoop conf the session hands out; Hadoop caches
    * FileSystems per scheme, not per conf, so graft's own shared confs
    * name the same class (`NioLocalFileSystem.wire`). */
  val sessionConf: Map[String, String] =
    Map("spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // AQE pinned ON (it is the Spark 3.2+ default, but the manifest
      // sink's commit-write REBALANCE layout depends on it: with AQE off,
      // RebalancePartitions plans as a plain hash shuffle and a large
      // copy-on-write bucket rewrite funnels through ONE task — the
      // rebalance is only scale-adaptive because AQE splits oversized
      // partitions at advisoryPartitionSizeInBytes and coalesces tiny ones)
      "spark.sql.adaptive.enabled" -> "true",
      // local checkpoint metadata through java.nio instead of Hadoop's
      // LocalFileSystem (which stats via shell-out and doubles writes
      // with checksums) — kills the per-trigger walCommit/commitOffsets
      // tax; non-local roots fall back to stock Spark inside the class
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "graft.streaming.NioCheckpointFileManager",
      // local DATA writes (every parquet/text part file, its .crc, and
      // each directory the commit protocol makes) set permission bits
      // through java.nio instead of forking one `chmod` apiece — Hadoop's
      // behaviour without libhadoop; checksums stay on, and non-local
      // schemes never resolve this key
      "spark.hadoop." + graft.sinks.NioLocalFileSystem.ConfKey ->
        graft.sinks.NioLocalFileSystem.ClassName)

  /** Exposes BOTH timestamp representations so every query picks the
    * right precision:
    *  - `ts_ns`: epoch-nanos long (lossless; use when the oracle side
    *    compares via DuckDB `epoch_ns(ts)`)
    *  - `ts`: TimestampType at micros (Spark's native precision; use for
    *    date_trunc/window-style ops where sub-µs never matters)
    *
    * The on-disk encoding of `ts` is NOT pinned — the corpus has shipped
    * both parquet TIMESTAMP(NANOS) (read as LongType nanos under
    * [[sessionConf]]) and TIMESTAMP(MICROS) (read as TimestampType /
    * TIMESTAMP_NTZ). A 100-TB lake never has one uniform file vintage, so
    * the loader branches on the READ dtype instead of assuming a writer:
    *  - LongType → nanos: `ts_ns` is the raw value; `ts` via
    *    `timestamp_micros(ns div 1000)` (integer `div` keeps the ns→µs
    *    conversion exact — double division loses precision above 2^53)
    *  - timestamp[us] (TZ or NTZ) → `ts_ns = unix_micros(ts) * 1000`
    *    (exact: µs-long × 1000 stays far inside Long range) and `ts` cast
    *    to session-TZ TimestampType. Sessions run UTC (Verify/Bench/specs)
    *    so NTZ→TZ is value-preserving and matches the DuckDB oracle's
    *    naive-UTC reading of the same files. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case _ =>
        raw.withColumn("ts_ns", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
          .withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every corpus table as a temp view so plain
    * `spark.sql("SELECT … FROM lineitem")` works — the ad-hoc SQL entry
    * point for users coming from the reference (or from the DuckDB oracle
    * SQL in this repo, which runs near-verbatim against these views).
    * `events` registers through [[events]], so both `ts` (µs) and `ts_ns`
    * are queryable. Temp views are lazy: nothing is scanned until a query
    * runs, and filters/pruning push into the parquet scans as usual. */
  def registerViews(s: SparkSession, dir: String): Unit =
    names.foreach {
      case "events" => events(s, dir).createOrReplaceTempView("events")
      case t        => load(s, dir, t).createOrReplaceTempView(t)
    }
}
