package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver corpus (TESTDATA.md): one parquet per table under
  * a scale-factor directory. Columns/filters are pruned/pushed by Catalyst at
  * the parquet scan, so loaders never pre-select — callers declare what they
  * need and the optimizer trims the scan (`ReadSchema`/`PushedFilters`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

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
