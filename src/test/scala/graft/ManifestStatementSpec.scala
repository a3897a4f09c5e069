package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.ManifestUpsertSink

/** The row-level statement pipeline's own rules: the merge-on-read dv
  * invariant (Σ new dv rows == the feed's retired rows) fails the
  * commit loudly; a statement that changes no row commits no version in
  * either mode; a null key refuses before anything is written; a CDC
  * mirror applies each micro-batch's upserts and deletes as one
  * version. */
class ManifestStatementSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def seeded(root: String, n: Int = 40): ManifestUpsertSink = {
    import spark.implicits._
    val sink = new ManifestUpsertSink(root, "id", 4)
    sink.upsertBatch((1 to n).map(i => (i.toLong, s"p$i", 1L))
      .toDF("id", "p", "seq"), "seq", 0L)
    sink
  }

  private def children(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }

  test("a short stage listing trips the dv invariant: no version, stage and dv dirs gone") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_dv_invariant_").toString
    seeded(root)
    var removed = Seq.empty[String]
    // loses one staged feed part file between the feed write and the dv
    // derivation that reads the stage back — the read-after-write
    // listing the dv used to trust
    val sink = new ManifestUpsertSink(root, "id", 4) {
      override protected def beforeDvDerive(stageDir: String): Unit =
        if (removed.isEmpty) {
          val part = children(Paths.get(stageDir)).filter(_.startsWith("part-")).toSeq.sorted.head
          Files.delete(Paths.get(stageDir, part))
          removed = Seq(part)
        }
    }
    val before = ManifestUpsertSink.latestManifest(root).get
    val dataBefore = children(Paths.get(root, "data"))
    val err = intercept[IllegalStateException] {
      sink.deleteKeysMergeOnRead((1 to 12).map(_.toLong).toDF("id"), 1L)
    }
    assert(removed.nonEmpty, "the seam must have removed a staged part file")
    assert(err.getMessage.contains("deletion-vector invariant"), err.getMessage)
    assert(ManifestUpsertSink.latestManifest(root).get.version == before.version,
      "a tripped invariant must commit no version")
    assert(!Files.exists(Paths.get(root, "_stage")), "the stage must be removed")
    assert(children(Paths.get(root, "data")) == dataBefore, "no dv (or data) dir may remain")
    assert(sink.read(spark).count() == 40L)
    // the table stays healthy: the same statement commits once the
    // stage is intact
    sink.deleteKeysMergeOnRead((1 to 12).map(_.toLong).toDF("id"), 1L)
    val after = ManifestUpsertSink.latestManifest(root).get
    assert(after.version == before.version + 1 && after.dvs.map(_.rows).sum == 12L)
    assert(sink.read(spark).count() == 28L)
  }

  test("a statement that changes no row commits no version, copy-on-write as merge-on-read") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_noop_").toString
    val sink = seeded(root)
    val v0 = ManifestUpsertSink.latestManifest(root).get.version
    val dataBefore = children(Paths.get(root, "data"))
    // absent keys hash into buckets that hold data: the statement reads
    // them, classifies zero victims, and must stop before any write
    val absent = Seq(1001L, 1002L, 1003L, 1004L, 1005L).toDF("id")
    sink.deleteKeys(absent, 1L)
    sink.deleteKeysMergeOnRead(absent, 2L)
    sink.applyDelta(Seq.empty[(Long, String, Long)].toDF("id", "p", "seq"), absent, "seq", 3L)
    sink.upsertBatch(Seq.empty[(Long, String, Long)].toDF("id", "p", "seq"), "seq", 4L)
    assert(ManifestUpsertSink.latestManifest(root).get.version == v0,
      "no-op statements must not commit")
    assert(!Files.exists(Paths.get(root, "_stage")), "no stage may remain")
    assert(children(Paths.get(root, "data")) == dataBefore, "no data file may be written")
  }

  test("a NULL key refuses with nothing committed and no stage or dv dir, on both classify paths") {
    import spark.implicits._
    // default: these sides are collected to the driver; -1: lazy frames
    for (limit <- Seq(None, Some("-1"))) {
      val root = Files.createTempDirectory("graft_null_key_").toString
      val sink = seeded(root)
      val v0 = ManifestUpsertSink.latestManifest(root).get.version
      val dataBefore = children(Paths.get(root, "data"))
      def nullUps = Seq((Some(1L), "u1", 2L), (None, "u0", 2L), (Some(41L), "n41", 2L))
        .toDF("id", "p", "seq")
      def nullDels = Seq(Some(5L), None).toDF("id")
      def ups = Seq((2L, "u2", 2L)).toDF("id", "p", "seq")
      val statements: Seq[(String, () => Unit)] = Seq(
        "upsertBatch" -> (() => sink.upsertBatch(nullUps, "seq", 1L)),
        "upsertMergeOnRead" -> (() => sink.upsertMergeOnRead(nullUps, "seq", 1L)),
        "deleteKeys" -> (() => sink.deleteKeys(nullDels, 1L)),
        "deleteKeysMergeOnRead" -> (() => sink.deleteKeysMergeOnRead(nullDels, 1L)),
        "applyDelta" -> (() => sink.applyDelta(ups, nullDels, "seq", 1L)),
        "applyDeltaMergeOnRead" -> (() => sink.applyDeltaMergeOnRead(ups, nullDels, "seq", 1L)))
      def refuses(): Unit = statements.foreach { case (verb, run) =>
        val label = s"$verb (threshold ${limit.getOrElse("default")})"
        val err = intercept[IllegalArgumentException](run())
        assert(err.getMessage.contains("batch carries a NULL key component (id)"),
          s"$label: ${err.getMessage}")
        assert(ManifestUpsertSink.latestManifest(root).get.version == v0,
          s"$label must commit no version")
        assert(!Files.exists(Paths.get(root, "_stage")), s"$label must leave no stage")
        assert(children(Paths.get(root, "data")) == dataBefore,
          s"$label must leave no data or dv dir")
      }
      limit.fold(refuses())(TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", _)(refuses()))
      assert(sink.read(spark).count() == 40L)
    }
  }

  test("a CDC mirror applies a micro-batch's upserts and deletes as ONE version") {
    import spark.implicits._
    val srcRoot = Files.createTempDirectory("graft_mirror_src_").toString
    val dstRoot = Files.createTempDirectory("graft_mirror_dst_").toString
    val ckpt = Files.createTempDirectory("graft_mirror_ckpt_").toString
    val src = seeded(srcRoot, n = 6)
    val imgDdl = "id BIGINT, p STRING, seq BIGINT"
    val parsed = spark.readStream.format("graft-manifest")
      .option("changes", "true").load(srcRoot)
      .select(col("id"), col("change"), col("_version"),
        from_json(col("new_image"), imgDdl, Map.empty[String, String]).getField("p").as("p"),
        from_json(col("new_image"), imgDdl, Map.empty[String, String]).getField("seq").as("seq"))
    val q = parsed.writeStream.format("graft-manifest")
      .option("applyChanges", "true")
      .option("orderCol", "_version").option("keyCol", "id").option("buckets", "4")
      .option("checkpointLocation", ckpt)
      .start(dstRoot)
    try {
      q.processAllAvailable()
      val first = ManifestUpsertSink.latestManifest(dstRoot).get
      // one source version, so the running stream cannot split it
      src.applyDelta(Seq((7L, "p7", 2L)).toDF("id", "p", "seq"),
        Seq(2L, 3L).toDF("id"), "seq", 1L)
      q.processAllAvailable()
      val second = ManifestUpsertSink.latestManifest(dstRoot).get
      assert(second.version == first.version + 1,
        "one micro-batch of live and dead keys must commit exactly one version")
      assert(second.batchId % 2 == 1, "the single commit takes the odd batch id")
      val feed = ManifestUpsertSink.readChanges(spark, dstRoot, second.version)
        .select("id", "change").as[(Long, String)].collect().toSet
      assert(feed == Set((7L, "inserted"), (2L, "deleted"), (3L, "deleted")))
      assert(ManifestUpsertSink.read(spark, dstRoot).select("id").as[Long].collect().toSet ==
        Set(1L, 4L, 5L, 6L, 7L))
    } finally q.stop()
  }
}
