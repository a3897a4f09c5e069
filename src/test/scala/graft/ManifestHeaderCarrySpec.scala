package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.ManifestUpsertSink
import graft.sinks.ManifestUpsertSink.Manifest

/** HEADER CARRY of the metadata-only maintenance verbs: on a table where
  * every manifest header is live at once — a rename mapping, a defaulted
  * added column, a dropped column, a widened column, a partition column,
  * live deletion vectors flagged inexact by partition retention, and a
  * touched set and feed from the last statement — each verb's committed
  * manifest is checked field by field against an explicit expectation,
  * plus a fresh commit stamp and the carried stats sidecar. Every verb
  * runs on its own copy of the base table's manifest log (data files are
  * referenced by absolute path, so the copies share them). */
class ManifestHeaderCarrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val D1 = "2024-01-01"
  private val D2 = "2024-01-02"
  private val D3 = "2024-01-03"

  /** The base table: v0 upsert, v1 MoR delete, v2 rename a→a2, v3
    * defaulted add e, v4 drop b, v5 widen w, v6 retention of D1, v7 MoR
    * delete. */
  private lazy val base: String = {
    val root = Files.createTempDirectory("graft_carry_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4, partitionCol = Some("d"))
    val days = Seq(D1, D2, D3)
    val rows = (1L to 12L).map(i => (i, days((i % 3).toInt), s"a$i", s"b$i", i.toInt, i.toInt, 0L))
    sink.upsertBatch(rows.toDF("id", "d", "a", "b", "w", "v", "seq"), "seq", 0L)
    sink.deleteKeysMergeOnRead(Seq(2L).toDF("id"), 1L) // in D3, like key 5
    sink.renameColumn(spark, "a", "a2")
    sink.addColumn(spark, "e", "INT", Some("7"))
    sink.dropColumn(spark, "b")
    sink.widenColumn(spark, "w", "BIGINT")
    sink.dropPartitionsBefore(spark, D2)
    sink.deleteKeysMergeOnRead(Seq(5L).toDF("id"), 2L)
    root
  }

  private lazy val b: Manifest = ManifestUpsertSink.latestManifest(base).get

  private val BaseStamp =
    StructType.fromDDL("id BIGINT, d STRING, a STRING, b STRING, w BIGINT, v INT, seq BIGINT")

  /** A new table root holding a copy of the base table's manifest log. */
  private def fork(): String = {
    val root = Files.createTempDirectory("graft_carry_fork_")
    val from = Paths.get(base)
    val walk = Files.walk(from.resolve("_manifest"))
    try walk.forEach((p: Path) => Files.copy(p, root.resolve(from.relativize(p).toString)))
    finally walk.close()
    root.toString
  }

  /** The sink over a fork, as the base table was configured. */
  private def sinkOf(root: String): ManifestUpsertSink =
    new ManifestUpsertSink(root, "id", buckets = 4, partitionCol = Some("d"))

  /** Every field of `got` equals `want`'s, except `ts`, which must be a
    * stamp taken at or after `t0`. */
  private def assertManifest(verb: String, got: Manifest, want: Manifest, t0: Long): Unit = {
    assert(got.ts.exists(_ >= t0), s"$verb: commit stamp ${got.ts} predates the call ($t0)")
    val fields = got.productElementNames.toSeq
      .zip(got.productIterator.toSeq.zip(want.productIterator.toSeq))
    for ((name, (g, w)) <- fields if name != "ts")
      assert(g == w, s"$verb: field $name")
  }

  /** The committed stats sidecar of `version` lists exactly `files`, with
    * the base version's stats. */
  private def assertStatsCarried(verb: String, root: String, version: Long,
      files: Seq[ManifestUpsertSink.FileEntry]): Unit = {
    val stats = ManifestUpsertSink.loadStats(root, version)
    val prev = ManifestUpsertSink.loadStats(base, b.version)
    assert(stats.keySet == files.map(_.path).toSet, s"$verb: sidecar lists the files")
    // compared encoded: FileStats holds byte arrays
    def line(p: String, s: graft.sinks.ManifestStats.FileStats) =
      graft.sinks.ManifestStats.encode(Map(p -> s))
    assert(stats.forall { case (p, s) => prev.get(p).map(line(p, _)).contains(line(p, s)) },
      s"$verb: sidecar lines carried verbatim")
  }

  /** The base manifest with its per-commit headers cleared, at `version`. */
  private def carried(version: Long): Manifest =
    Manifest(version, batchId = 2L, buckets = Some(4), keyCol = Some("id"), files = b.files,
      touched = None, feed = None, renames = Seq("a" -> "a2"), ts = None,
      partCol = Some("d"), addedCols = Seq("e" -> "INT"), droppedCols = Seq("b"),
      physSchema = b.physSchema, dvs = b.dvs, defaults = Seq("e" -> "7"),
      sortedBy = Some("id"), dvInexact = true)

  private def run(verb: String)(call: String => Unit): (String, Manifest, Long) = {
    val root = fork()
    val t0 = System.currentTimeMillis()
    call(root)
    (root, ManifestUpsertSink.latestManifest(root).get, t0)
  }

  test("the base table has every header live") {
    assert(b.version == 7L)
    assert(b.files.nonEmpty && b.files.forall(f =>
      ManifestUpsertSink.partOf(f.path).exists(p => p == D2 || p == D3)))
    assert(b.dvs.map(_.rows).sum == 2L, "two MoR-deleted keys")
    assert(b.touched.exists(_.nonEmpty) && b.feed.exists(_.startsWith("_stage/")))
    assert(b.physSchema.map(StructType.fromDDL).contains(BaseStamp))
    assertManifest("base", b, carried(7L).copy(touched = b.touched, feed = b.feed), 0L)
  }

  test("rename carries every header and re-spells the renamed one") {
    val (r1, m1, t1) = run("rename added")(r => sinkOf(r).renameColumn(spark, "e", "e2"))
    assertManifest("rename added", m1, carried(8L).copy(
      renames = Seq("a" -> "a2", "e" -> "e2"), addedCols = Seq("e2" -> "INT"),
      defaults = Seq("e2" -> "7")), t1)
    assertStatsCarried("rename added", r1, 8L, b.files)
    val (_, m2, t2) = run("rename key")(r => sinkOf(r).renameColumn(spark, "id", "key"))
    assertManifest("rename key", m2, carried(8L).copy(keyCol = Some("key"),
      renames = Seq("a" -> "a2", "id" -> "key"), sortedBy = Some("key")), t2)
    val (_, m3, t3) = run("rename partition")(r => sinkOf(r).renameColumn(spark, "d", "day"))
    assertManifest("rename partition", m3, carried(8L).copy(partCol = Some("day"),
      renames = Seq("a" -> "a2", "d" -> "day")), t3)
  }

  test("add, drop and widen carry every header they do not change") {
    val (r1, m1, t1) = run("add")(r => sinkOf(r).addColumn(spark, "f", "BIGINT", Some("5")))
    assertManifest("add", m1, carried(8L).copy(addedCols = Seq("e" -> "INT", "f" -> "BIGINT"),
      defaults = Seq("e" -> "7", "f" -> "5")), t1)
    assertStatsCarried("add", r1, 8L, b.files)
    val (_, m2, t2) = run("drop physical")(r => sinkOf(r).dropColumn(spark, "w"))
    assertManifest("drop physical", m2, carried(8L).copy(droppedCols = Seq("b", "w")), t2)
    val (_, m3, t3) = run("drop added")(r => sinkOf(r).dropColumn(spark, "e"))
    assertManifest("drop added", m3, carried(8L).copy(addedCols = Nil, defaults = Nil), t3)
    val (r4, m4, t4) = run("widen")(r => sinkOf(r).widenColumn(spark, "v", "BIGINT"))
    assertManifest("widen", m4, carried(8L).copy(physSchema = m4.physSchema), t4)
    assert(m4.physSchema.map(StructType.fromDDL).contains(StructType.fromDDL(
      "id BIGINT, d STRING, a STRING, b STRING, w BIGINT, v BIGINT, seq BIGINT")))
    assertStatsCarried("widen", r4, 8L, b.files)
  }

  test("truncate, retention and restore commit what they change and carry the rest") {
    val (r1, m1, t1) = run("truncate")(r => sinkOf(r).truncate())
    assertManifest("truncate", m1, carried(8L).copy(files = Nil, dvs = Nil, dvInexact = false), t1)
    assert(!Files.exists(Paths.get(r1, "_manifest", "v8.stats")), "truncate writes no sidecar")

    val (r2, m2, t2) = run("retention")(r => sinkOf(r).dropPartitionsBefore(spark, D3))
    val kept = b.files.filter(f => ManifestUpsertSink.partOf(f.path).contains(D3))
    assert(kept.nonEmpty && kept.size < b.files.size)
    assertManifest("retention", m2, carried(8L).copy(files = kept), t2)
    assertStatsCarried("retention", r2, 8L, kept)

    val (r3, m3, t3) = run("retention cdc")(r => sinkOf(r).dropPartitionsBefore(spark, D3, cdc = true))
    assert(m3.feed.exists(_.startsWith("_stage/")))
    assert(Files.isDirectory(Paths.get(r3, "_changes", "v8")), "the retention feed is final")
    assertManifest("retention cdc", m3, carried(8L).copy(files = kept, feed = m3.feed), t3)

    // restore to v5 (after the widen, before retention): the target's
    // headers and entries at the next version, the current batch id
    val v5 = ManifestUpsertSink.manifestAt(base, 5L).get
    val (r4, m4, t4) = run("restore")(r => sinkOf(r).restore(spark, 5L))
    assert(m4.feed.exists(_.startsWith("_stage/")), "the restore diff feeds")
    assert(Files.isDirectory(Paths.get(r4, "_changes", "v8")))
    assertManifest("restore", m4, Manifest(8L, batchId = 2L, buckets = Some(4),
      keyCol = Some("id"), files = v5.files, touched = None, feed = m4.feed,
      renames = Seq("a" -> "a2"), ts = None, partCol = Some("d"),
      addedCols = Seq("e" -> "INT"), droppedCols = Seq("b"), physSchema = v5.physSchema,
      dvs = v5.dvs, defaults = Seq("e" -> "7"), sortedBy = Some("id"), dvInexact = false), t4)
    assert(v5.files.size > b.files.size && v5.dvs.map(_.rows).sum == 1L)
    assert(v5.physSchema.map(StructType.fromDDL).contains(BaseStamp))
    val s4 = ManifestUpsertSink.loadStats(r4, 8L)
    assert(graft.sinks.ManifestStats.encode(s4) ==
      graft.sinks.ManifestStats.encode(ManifestUpsertSink.loadStats(base, 5L)) &&
      s4.keySet == v5.files.map(_.path).toSet, "restore carries the target's sidecar")
  }

  test("shallow clone and branch fork every header at the source version") {
    val src = fork()
    val cloneRoot = Files.createTempDirectory("graft_carry_clone_").toString
    val t1 = System.currentTimeMillis()
    sinkOf(src).cloneTo(spark, cloneRoot)
    val c = ManifestUpsertSink.latestManifest(cloneRoot).get
    assertManifest("clone", c, carried(7L), t1)
    assertStatsCarried("clone", cloneRoot, 7L, b.files)

    val t2 = System.currentTimeMillis()
    val branch = sinkOf(src).createBranch("audit")
    val bRoot = ManifestUpsertSink.branchRoot(src, "audit")
    assertManifest("branch", ManifestUpsertSink.latestManifest(bRoot).get, carried(7L), t2)
    assertStatsCarried("branch", bRoot, 7L, b.files)
    assert(branch.read(spark).count() == sinkOf(src).read(spark).count())
  }
}
