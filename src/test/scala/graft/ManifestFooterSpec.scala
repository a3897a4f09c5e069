package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageTypeParser
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{ManifestStats, ManifestUpsertSink, TableStore}

/** The footer path every stats read takes ([[ManifestStats.openFooter]]):
  * it must read what parquet's default `open(InputFile)` reads, without
  * that overload's fresh Hadoop `Configuration` per file; and the commit
  * files it opens must carry adaptive-sized key blooms. */
class ManifestFooterSpec extends AnyFunSuite {

  /** One file with every stats kind the collector models or declines:
    * integral, date, both timestamp units, doubles with NaN and -0.0,
    * float, UTF-8 string, decimal and unsigned (declined), and an
    * all-null column. */
  private val KindsSchema = MessageTypeParser.parseMessageType(
    """message kinds {
      |  required int32 i32;
      |  required int64 i64;
      |  required int32 day (DATE);
      |  required int64 ts_us (TIMESTAMP(MICROS,true));
      |  required int64 ts_ms (TIMESTAMP(MILLIS,true));
      |  required double dbl_nan;
      |  required double dbl_zero;
      |  required float flt;
      |  required binary s (STRING);
      |  required int64 dec (DECIMAL(18,2));
      |  required int32 u32 (INTEGER(32,false));
      |  optional int64 nul;
      |}""".stripMargin)

  private def writeKinds(path: String, rows: Int): Unit = {
    val writer = ExampleParquetWriter.builder(new HPath(path))
      .withConf(new Configuration()).withType(KindsSchema).build()
    val groups = new SimpleGroupFactory(KindsSchema)
    try (0 until rows).foreach { i =>
      val g = groups.newGroup()
        .append("i32", i - 7)
        .append("i64", i * 1000000007L)
        .append("day", 19000 + i)
        .append("ts_us", 1700000000000000L + i)
        .append("ts_ms", 1700000000000L + i)
        .append("dbl_nan", if (i == 3) Double.NaN else i * 0.5)
        .append("dbl_zero", if (i == 0) -0.0 else i.toDouble)
        .append("flt", i * 0.25f)
        .append("s", s"k$i")
        .append("dec", i * 100L)
        .append("u32", i)
      writer.write(g)
    } finally writer.close()
  }

  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("footer stats through openFooter are byte-identical to parquet's default open") {
    val path = s"${tmpDir("graft_footer_kinds_")}/kinds.parquet"
    writeKinds(path, 40)
    val in = HadoopInputFile.fromPath(new HPath(path), TableStore.hadoopConf)
    val reference = ParquetFileReader.open(in) // builds its own Configuration
    val expected = try ManifestStats.encode(
      Map(path -> ManifestStats.fileStats(reference, in.getLength)))
    finally reference.close()
    val collected = ManifestStats.collect(Seq(path))
    assert(ManifestStats.encode(collected) == expected)
    // not vacuous: every modeled kind is present, every declined one absent
    val cols = collected(path).cols
    assert(collected(path).rows == 40)
    assert(cols.keySet == Set("i32", "i64", "day", "ts_us", "ts_ms",
      "dbl_nan", "dbl_zero", "flt", "s", "nul"))
    assert(cols("ts_ms").min.contains(1700000000000000L), "MILLIS bounds scale to micros")
    assert(cols("dbl_nan").min.isEmpty, "a NaN-bearing double records no interval")
    assert(cols("dbl_zero").min.contains(-0.0))
    assert(cols("nul").nulls.contains(40L) && cols("nul").min.isEmpty)
    assert(cols("s").kind == 'S' && cols("flt").kind == 'D' && cols("day").kind == 'L')
  }

  /** Hadoop keeps every live `Configuration` in a static weak registry;
    * counting the entries a call adds counts the confs it built. */
  private def confsBuiltBy(body: => Unit): Int = {
    val field = classOf[Configuration].getDeclaredField("REGISTRY")
    field.setAccessible(true)
    val registry = field.get(null).asInstanceOf[java.util.Map[Configuration, AnyRef]]
    def keys(): java.util.Set[Configuration] = classOf[Configuration].synchronized {
      val s = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[Configuration, java.lang.Boolean]())
      s.addAll(registry.keySet)
      s
    }
    val before = keys() // held strongly, so none of them can drop out
    body
    keys().asScala.count(c => !before.contains(c))
  }

  test("collect over N files builds at most N Hadoop Configurations") {
    val dir = tmpDir("graft_footer_confs_")
    val paths = (0 until 16).map(i => s"$dir/f$i.parquet")
    paths.foreach(writeKinds(_, 5))
    ManifestStats.collect(paths.take(1)) // shared conf and FS cache are lazy
    // one file per window: a conf is garbage once its reader closes, so a
    // short window keeps a collection from hiding what the call built
    val built = paths.map(p => confsBuiltBy(ManifestStats.collect(Seq(p)))).sum
    info(s"Configurations built for ${paths.size} footers: $built")
    assert(built <= paths.size)
  }

  test("commit files carry adaptive-sized key blooms far below the max bytes") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = tmpDir("graft_footer_bloom_")
    new ManifestUpsertSink(root, "id", 4)
      .upsertBatch((1 to 20).map(i => (i.toLong, s"p$i", 1L)).toDF("id", "p", "seq"), "seq", 0L)
    val files = ManifestUpsertSink.snapshotManifest(root, None).files.map(_.path)
    assert(files.nonEmpty)
    val max = ParquetProperties.DEFAULT_MAX_BLOOM_FILTER_BYTES
    val sizes = files.flatMap { f =>
      val reader = ManifestStats.openFooter(
        HadoopInputFile.fromPath(new HPath(f), TableStore.hadoopConf))
      try reader.getRowGroups.asScala.toSeq.map { block =>
        val chunk = block.getColumns.asScala.find(_.getPath.toDotString == "id").get
        val bloom = reader.getBloomFilterDataReader(block).readBloomFilter(chunk)
        assert(bloom != null, s"$f: no bloom on the key column")
        bloom.getBitsetSize
      } finally reader.close()
    }
    info(s"key bloom bitsets: ${sizes.mkString(", ")} B (max $max B)")
    assert(sizes.forall(_ <= max / 8), s"key blooms $sizes B against the $max B max")
  }
}
