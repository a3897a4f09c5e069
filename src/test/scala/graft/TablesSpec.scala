package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.events` must be encoding-agnostic: the driver corpus has shipped
  * `events.ts` as BOTH parquet TIMESTAMP(NANOS) (read as LongType under
  * `nanosAsLong`) and TIMESTAMP(MICROS) (read as timestamp/NTZ). A 100-TB
  * lake mixes file vintages, so the loader branches on the READ dtype; this
  * spec writes the same logical rows in both encodings and asserts the
  * loader output is identical (ts_ns exact, ts at µs precision).
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // epoch-nanos values incl. sub-µs residue (ns vintage keeps it; the µs
  // vintage never had it — so fixtures use whole-µs values where outputs
  // must match, plus one ns-only row to pin lossless ts_ns)
  private val microsRows = Seq(
    (1L, 1704103500000000L), // 2024-01-01T10:45:00Z
    (2L, 1704103500123456L),
    (3L, -1000000L)) // pre-epoch: sign guard for the div/mul paths

  /** Writes `df` as ONE parquet file at `path`, the corpus layout. */
  private def writeFile(df: DataFrame, path: String): Unit = {
    val parts = Files.createTempDirectory("graft_tables_spec_parts_").toString
    df.coalesce(1).write.mode("overwrite").parquet(parts)
    val part = new File(parts).listFiles().filter(_.getName.endsWith(".parquet")).toSeq
    assert(part.size == 1)
    Files.createDirectories(Paths.get(path).getParent)
    Files.move(part.head.toPath, Paths.get(path))
    ()
  }

  private def writeBoth(): (String, String) = {
    val dir = Files.createTempDirectory("graft_tables_spec_").toString
    val (nsDir, usDir) = (s"$dir/ns", s"$dir/us")
    // ns vintage: LongType column named ts, written via the nanos flag's
    // read-representation (a raw long column round-trips as INT64 which the
    // nanosAsLong reader surfaces as LongType — same shape the old corpus had)
    writeFile(microsRows.toDF("event_id", "us")
      .select(col("event_id"), (col("us") * 1000L).as("ts")), s"$nsDir/events.parquet")
    // µs vintage: real TimestampType column, stored as parquet timestamp[us]
    writeFile(microsRows.toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts")), s"$usDir/events.parquet")
    (nsDir, usDir)
  }

  /** `Tables.load(dir, table)` builds its frame without a Spark job, with
    * the schema `spark.read.parquet` infers (nullability and metadata
    * included). */
  private def assertFooterLoad(dir: String, table: String): Unit = {
    val (jobs, df) = TestSpark.jobsOf(Tables.load(spark, dir, table))
    assert(jobs == 0, s"$table: building the frame started $jobs jobs")
    assert(df.schema == spark.read.parquet(s"$dir/$table.parquet").schema, table)
  }

  test("events loader yields identical ts/ts_ns for nanos-long and µs-timestamp encodings") {
    val (nsDir, usDir) = writeBoth()
    val a = Tables.events(spark, nsDir).select("event_id", "ts", "ts_ns")
      .orderBy("event_id").collect()
    val b = Tables.events(spark, usDir).select("event_id", "ts", "ts_ns")
      .orderBy("event_id").collect()
    assert(a.toSeq == b.toSeq,
      s"encodings must agree\nns: ${a.mkString("; ")}\nus: ${b.mkString("; ")}")
    // ts_ns exact at whole-µs inputs
    assert(a.map(_.getLong(2)).toSeq == microsRows.map(_._2 * 1000L))
  }

  test("nanos vintage keeps sub-µs residue in ts_ns (lossless long path)") {
    val dir = Files.createTempDirectory("graft_tables_spec_ns_").toString
    writeFile(Seq((1L, 1704103500123456789L)).toDF("event_id", "ts"), s"$dir/events.parquet")
    val r = Tables.events(spark, dir).select("ts_ns", "ts").head()
    assert(r.getLong(0) == 1704103500123456789L)
    assert(r.getTimestamp(1).getTime == 1704103500123L) // µs-truncated wall clock
  }

  test("driver corpus (current vintage) loads with non-null ts and consistent ts_ns") {
    val e = Tables.events(spark, sf)
    val r = e.select(count(lit(1)), sum(when(col("ts").isNull || col("ts_ns").isNull, 1).otherwise(0)),
      sum(when(unix_micros(col("ts")) * 1000L =!= col("ts_ns"), 1).otherwise(0))).head()
    assert(r.getLong(0) == 1000L)
    assert(r.getLong(1) == 0L, "no null ts/ts_ns")
    assert(r.getLong(2) == 0L, "ts and ts_ns agree at µs precision")
  }

  test("every corpus table loads with Spark's inferred schema and starts no job") {
    Tables.names.foreach(assertFooterLoad(sf, _))
  }

  test("the nanos-long and µs events fixtures load with Spark's schema and start no job") {
    val (nsDir, usDir) = writeBoth()
    assertFooterLoad(nsDir, "events")
    assertFooterLoad(usDir, "events")
  }

  test("a directory table and a missing path keep spark.read.parquet's outcome") {
    val dir = Files.createTempDirectory("graft_tables_spec_dir_").toString
    microsRows.toDF("event_id", "us").repartition(3)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(Tables.load(spark, dir, "events").schema ==
      spark.read.parquet(s"$dir/events.parquet").schema)
    assert(Tables.load(spark, dir, "events").as[(Long, Long)].collect().toSet ==
      microsRows.toSet)

    def failure(body: => DataFrame): Class[_] =
      intercept[Exception](body).getClass
    val missing = s"$dir/nothing_here"
    assert(failure(Tables.load(spark, missing, "events")) ==
      failure(spark.read.parquet(s"$missing/events.parquet")))
  }

  test("readChanges builds without a job, with Spark's schema and rows") {
    import graft.sinks.ManifestUpsertSink
    val root = Files.createTempDirectory("graft_tables_spec_feed_").toString
    val sink = new ManifestUpsertSink(root, "id", 4)
    sink.upsertBatch((1 to 40).map(i => (i.toLong, s"p$i", 1L)).toDF("id", "p", "seq"), "seq", 0L)
    sink.upsertBatch((1 to 60 by 3).map(i => (i.toLong, s"u$i", 2L)).toDF("id", "p", "seq"), "seq", 1L)
    val v = ManifestUpsertSink.latestManifest(root).get.version
    val (jobs, feed) = TestSpark.jobsOf(ManifestUpsertSink.readChanges(spark, root, v))
    assert(jobs == 0, s"building the change feed started $jobs jobs")
    val spark0 = spark.read.parquet(ManifestUpsertSink.changeFiles(root, v): _*)
    assert(feed.schema == spark0.schema)
    assert(feed.collect().map(_.toSeq).toSet == spark0.collect().map(_.toSeq).toSet)
    assert(feed.count() == 20L)
  }
}
