package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{ManifestStats, ManifestUpsertSink}

/** Multi-writer optimistic concurrency on the manifest lake: a writer
  * that loses the manifest rename race REBASES when the winner's
  * data-changed buckets are disjoint from its own, and aborts loudly on
  * a true same-bucket conflict.
  *
  * Races are made DETERMINISTIC through the sink's `beforeCommit` test
  * seam: the "loser" sink runs a competing commit at the exact point
  * between its data write and its manifest rename — the worst-case
  * interleaving, reproduced exactly, through BOTH TableStores (java.nio
  * and Hadoop `file:`). */
class ManifestConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A sink whose FIRST commit attempt is preempted by `interloper`. */
  private class RacedSink(root: String, buckets: Int)(interloper: => Unit)
      extends ManifestUpsertSink(root, "id", buckets) {
    @volatile var fired = false
    override protected def beforeCommit(attemptVersion: Long): Unit =
      if (!fired) { fired = true; interloper }
  }

  /** Two long keys guaranteed to live in different buckets of 4. */
  private def disjointKeys(): (Long, Long) = {
    val k1 = 1L
    val b1 = ManifestStats.bucketOf(k1, 4).get
    val k2 = (2L to 50L).find(k => ManifestStats.bucketOf(k, 4).get != b1).get
    (k1, k2)
  }
  /** A key in the SAME bucket of 4 as `k`, different value. */
  private def sameBucketKey(k: Long): Long =
    ((k + 1) to 200L).find(x => ManifestStats.bucketOf(x, 4) == ManifestStats.bucketOf(k, 4)).get

  private def roots(label: String): Seq[String] = {
    val nio = java.nio.file.Files.createTempDirectory(s"graft_occ_${label}_").toString
    val had = java.nio.file.Files.createTempDirectory(s"graft_occ_${label}h_").toString
    Seq(nio, s"file:$had")
  }

  test("merge vs merge on disjoint buckets: loser rebases, no lost update, feeds land per version") {
    import spark.implicits._
    val (k1, k2) = disjointKeys()
    for (root <- roots("mm")) {
      val seed = new ManifestUpsertSink(root, "id", buckets = 4)
      seed.upsertBatch((1L to 20L).map(i => (i, s"v0-$i", 0L)).toDF("id", "p", "seq"), "seq", 0L)
      val writerA = new ManifestUpsertSink(root, "id", buckets = 4)
      val writerB = new RacedSink(root, 4)({
        writerA.upsertBatch(Seq((k1, "A-wins", 1L)).toDF("id", "p", "seq"), "seq", 1L)
      })
      // B prepares against v0, A commits v1 mid-flight, B rebases to v2
      writerB.upsertBatch(Seq((k2, "B-rebased", 1L)).toDF("id", "p", "seq"), "seq", 2L)

      val m = ManifestUpsertSink.snapshotManifest(root, None)
      assert(m.version == 2L, s"$root: loser must land at the NEXT version")
      assert(m.batchId == 2L)
      assert(m.touched.contains(Set(ManifestStats.bucketOf(k2, 4).get)),
        "the committed manifest records the rebased writer's own touched set")
      val got = seed.read(spark).select("id", "p").as[(Long, String)].collect().toMap
      assert(got(k1) == "A-wins" && got(k2) == "B-rebased",
        s"$root: NO lost update — both concurrent merges visible")
      assert(got.size == 20)
      // each version's change feed landed under its FINAL version number
      assert(ManifestUpsertSink.readChanges(spark, root, 1L)
        .select("id").as[Long].collect().toSeq == Seq(k1))
      assert(ManifestUpsertSink.readChanges(spark, root, 2L)
        .select("id").as[Long].collect().toSeq == Seq(k2))
      // the intermediate version reads as the winner committed it
      assert(ManifestUpsertSink.readVersion(spark, root, 1L)
        .filter(col("id") === k2).select("p").as[String].head() == s"v0-$k2")
    }
  }

  test("rebase unions the winner's schema stamp: both writers' new columns survive the race") {
    import spark.implicits._
    val (k1, k2) = disjointKeys()
    val root = java.nio.file.Files.createTempDirectory("graft_occ_stamp_").toString
    val seed = new ManifestUpsertSink(root, "id", buckets = 4)
    seed.upsertBatch((1L to 20L).map(i => (i, s"v0-$i", 0L)).toDF("id", "p", "seq"), "seq", 0L)
    // A's batch carries extra column `ax`, B's carries `bx` — the loser's
    // stamp must re-union against the WINNER's files (which hold ax), or
    // stamped reads would silently null the winner's column
    val writerA = new ManifestUpsertSink(root, "id", buckets = 4)
    val writerB = new RacedSink(root, 4)({
      writerA.upsertBatch(Seq((k1, "A", 1.5, 1L)).toDF("id", "p", "ax", "seq"), "seq", 1L)
    })
    writerB.upsertBatch(Seq((k2, "B", 7L, 1L)).toDF("id", "p", "bx", "seq"), "seq", 2L)
    val m = ManifestUpsertSink.snapshotManifest(root, None)
    assert(m.physSchema.isDefined, "the rebased commit keeps a stamp")
    val names = org.apache.spark.sql.types.StructType.fromDDL(m.physSchema.get)
      .fieldNames.toSet
    assert(names == Set("id", "p", "ax", "bx", "seq"),
      s"the rebased stamp must union BOTH writers' columns, got $names")
    val got = seed.read(spark)
    assert(got.where(col("id") === k1).select("ax").as[Double].head() == 1.5,
      "the winner's column reads through the loser's stamped commit")
    assert(got.where(col("id") === k2).select("bx").as[Long].head() == 7L)
    assert(got.where(col("id") === k1).select("bx").as[Option[Long]].head().isEmpty,
      "null-fill where a vintage lacks the other writer's column")
  }

  test("merge vs merge on the SAME bucket: true conflict aborts loudly, winner's commit intact") {
    import spark.implicits._
    val k1 = 1L
    val k1b = sameBucketKey(k1)
    for (root <- roots("conflict")) {
      val seed = new ManifestUpsertSink(root, "id", buckets = 4)
      seed.upsertBatch((1L to 20L).map(i => (i, s"v0-$i", 0L)).toDF("id", "p", "seq"), "seq", 0L)
      val writerA = new ManifestUpsertSink(root, "id", buckets = 4)
      val writerB = new RacedSink(root, 4)({
        writerA.upsertBatch(Seq((k1, "A-wins", 1L)).toDF("id", "p", "seq"), "seq", 1L)
      })
      val e = intercept[IllegalStateException] {
        writerB.upsertBatch(Seq((k1b, "B-must-die", 1L)).toDF("id", "p", "seq"), "seq", 2L)
      }
      assert(e.getMessage.contains("true write conflict"), e.getMessage)
      val got = seed.read(spark).select("id", "p").as[(Long, String)].collect().toMap
      assert(got(k1) == "A-wins" && got(k1b) == s"v0-$k1b",
        s"$root: winner intact, loser wrote nothing visible")
      assert(ManifestUpsertSink.snapshotManifest(root, None).version == 1L)
    }
  }

  test("compactor loses to a concurrent merge: rebase keeps the merge's bucket, compacts the rest") {
    import spark.implicits._
    val (k1, _) = disjointKeys()
    val b1 = ManifestStats.bucketOf(k1, 4).get
    for (root <- roots("cm")) {
      val seed = new ManifestUpsertSink(root, "id", buckets = 4)
      // two batches -> every touched bucket holds 2 file sets (compactable)
      seed.upsertBatch((1L to 20L).map(i => (i, s"v0-$i", 0L)).toDF("id", "p", "seq"), "seq", 0L)
      seed.upsertBatch((1L to 20L).map(i => (i, s"v1-$i", 1L)).toDF("id", "p", "seq"), "seq", 1L)
      val merger = new ManifestUpsertSink(root, "id", buckets = 4)
      val compactor = new RacedSink(root, 4)({
        merger.upsertBatch(Seq((k1, "merged-mid-compaction", 9L)).toDF("id", "p", "seq"), "seq", 2L)
      })
      compactor.compact(spark)

      val m = ManifestUpsertSink.snapshotManifest(root, None)
      assert(m.version == 3L && m.batchId == 2L,
        "compaction rebases onto the merge and keeps the max batch id (replay guard intact)")
      val got = seed.read(spark).select("id", "p").as[(Long, String)].collect().toMap
      assert(got(k1) == "merged-mid-compaction",
        s"$root: the concurrent merge must survive the compaction — THE lost-update case")
      assert(got.filter(_._1 != k1) == (1L to 20L).filter(_ != k1)
        .map(i => i -> s"v1-$i").toMap)
      // merged bucket carries the MERGE's files; every other bucket is
      // compacted to the single file the rewrite produced — the two
      // commits wrote disjoint uniquely-tagged dirs
      val dirOf = (p: String) => p.substring(0, p.lastIndexOf("/__bucket"))
      val b1Dirs = m.files.filter(_.bucket == b1).map(f => dirOf(f.path)).toSet
      val otherDirs = m.files.filterNot(_.bucket == b1).map(f => dirOf(f.path)).toSet
      assert(b1Dirs.nonEmpty && (b1Dirs & otherDirs).isEmpty,
        "the conflicted bucket's entries come from the merge commit, not the compactor")
      assert(m.files.filterNot(_.bucket == b1).groupBy(_.bucket).values.forall(_.size == 1),
        "unconflicted buckets got the compacted one-file layout")
      // replay guard: redelivering the merge's batch id is still a no-op
      merger.upsertBatch(Seq((k1, "replay", 9L)).toDF("id", "p", "seq"), "seq", 2L)
      assert(ManifestUpsertSink.snapshotManifest(root, None).version == 3L)
    }
  }

  test("a live dv never spells a retired key name once the rename mapping clears") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_occ_dvkey_").toString
    val seed = new ManifestUpsertSink(root, "id", buckets = 4)
    seed.upsertBatch((1L to 20L).map(i => (i, s"p$i", 0L)).toDF("id", "p", "seq"), "seq", 0L)
    val kSame = sameBucketKey(3L)
    seed.deleteKeysMergeOnRead(Seq(3L).toDF("id"), 1L) // dv file spells `id`
    seed.renameColumn(spark, "id", "key")
    def spellings(m: ManifestUpsertSink.Manifest): Seq[Set[String]] =
      m.dvs.map(d => spark.read.parquet(d.path).columns.toSet)
    def liveKeys(): Set[Long] = ManifestUpsertSink.read(spark, root)
      .select("key").as[Long].collect().toSet
    // a full compaction (which clears the mapping) racing a MoR delete in
    // the old dv's bucket: the rebase carries that bucket's dvs — the
    // `id`-spelled one included — so it must carry the mapping as well
    var fired = false
    val compactor = new ManifestUpsertSink(root, "key", 4) {
      override protected def beforeCommit(attemptVersion: Long): Unit =
        if (!fired) {
          fired = true
          new ManifestUpsertSink(root, "key", 4).deleteKeysMergeOnRead(Seq(kSame).toDF("key"), 2L)
        }
    }
    compactor.compact(spark)
    val raced = ManifestUpsertSink.latestManifest(root).get
    assert(spellings(raced).exists(_.contains("id")),
      s"the race keeps an old-spelling dv live: ${spellings(raced)}")
    assert(raced.renames == Seq("id" -> "key"), "and with it the mapping that reads it")
    assert(liveKeys() == (1L to 20L).toSet -- Set(3L, kSame))
    // an unraced full compaction clears the mapping and every dv at once
    val clean = new ManifestUpsertSink(root, "key", 4)
    clean.compact(spark)
    val cleared = ManifestUpsertSink.latestManifest(root).get
    assert(cleared.renames.isEmpty && cleared.dvs.isEmpty)
    // a dv written after the clear spells the live key and reads through the stamp
    clean.deleteKeysMergeOnRead(Seq(5L).toDF("key"), 3L)
    val after = ManifestUpsertSink.latestManifest(root).get
    assert(after.renames.isEmpty && spellings(after).forall(_ == Set("key")), spellings(after))
    assert(liveKeys() == (1L to 20L).toSet -- Set(3L, kSame, 5L))
  }

  test("merge loses to a concurrent compactor: data-identical rewrite is never a conflict") {
    import spark.implicits._
    val (k1, _) = disjointKeys()
    for (root <- roots("mc")) {
      val seed = new ManifestUpsertSink(root, "id", buckets = 4)
      seed.upsertBatch((1L to 20L).map(i => (i, s"v0-$i", 0L)).toDF("id", "p", "seq"), "seq", 0L)
      val compactor = new ManifestUpsertSink(root, "id", buckets = 4)
      val merger = new RacedSink(root, 4)({ compactor.compact(spark) })
      merger.upsertBatch(Seq((k1, "merged", 1L)).toDF("id", "p", "seq"), "seq", 1L)

      val m = ManifestUpsertSink.snapshotManifest(root, None)
      assert(m.version == 2L)
      val got = seed.read(spark).select("id", "p").as[(Long, String)].collect().toMap
      assert(got(k1) == "merged" && got.size == 20)
      assert(got(2L) == "v0-2")
      // the merge's survivors were computed against pre-compaction files —
      // sound because the compaction changed no rows
      assert(ManifestUpsertSink.readChanges(spark, root, 2L)
        .select("id", "change").as[(Long, String)].collect().toSeq
        == Seq((k1, "updated")))
    }
  }

  test("feed crash window: changeFiles falls back through the feed header; next writer heals") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_occ_heal_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4)
    sink.upsertBatch(Seq((1L, "a", 1L)).toDF("id", "p", "seq"), "seq", 0L)
    sink.upsertBatch(Seq((2L, "b", 2L)).toDF("id", "p", "seq"), "seq", 1L)
    // simulate a crash BETWEEN manifest commit and feed rename: put the
    // committed feed back under its staged name
    val m1 = ManifestUpsertSink.snapshotManifest(root, Some(1L))
    val stage = m1.feed.get // root-relative, e.g. _stage/<tag>
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_stage"))
    java.nio.file.Files.move(
      java.nio.file.Paths.get(root, "_changes", "v1"),
      java.nio.file.Paths.get(root, stage))
    // reads still resolve the feed through the manifest header
    assert(ManifestUpsertSink.readChanges(spark, root, 1L)
      .select("id").as[Long].collect().toSeq == Seq(2L))
    // the next writer heals the rename before doing its own work
    sink.upsertBatch(Seq((3L, "c", 3L)).toDF("id", "p", "seq"), "seq", 2L)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root, "_changes", "v1")),
      "healFeed must finalize the crashed writer's staged feed")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, stage)))
  }

  test("a rebasing loser heals the crashed winner's staged feed before committing on top") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_occ_heal2_").toString
    val seed = new ManifestUpsertSink(root, "id", buckets = 4)
    seed.upsertBatch((1L to 20L).map(i => (i, s"v0-$i", 0L)).toDF("id", "p", "seq"), "seq", 0L)
    val (k1, k2) = disjointKeys()
    val writerA = new ManifestUpsertSink(root, "id", buckets = 4)
    val writerB = new RacedSink(root, 4)({
      writerA.upsertBatch(Seq((k1, "A", 1L)).toDF("id", "p", "seq"), "seq", 1L)
      // simulate A crashing between manifest commit and feed rename
      val m1 = ManifestUpsertSink.snapshotManifest(root, Some(1L))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_stage"))
      java.nio.file.Files.move(
        java.nio.file.Paths.get(root, "_changes", "v1"),
        java.nio.file.Paths.get(root, m1.feed.get))
    })
    writerB.upsertBatch(Seq((k2, "B", 1L)).toDF("id", "p", "seq"), "seq", 2L)
    // B rebased onto v1 and committed v2 — v1 is no longer the latest, so
    // only the rebase-time heal could have finalized its feed
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root, "_changes", "v1")),
      "the loser must finalize the crashed winner's staged feed or subscribers skip v1")
    assert(ManifestUpsertSink.readChanges(spark, root, 1L)
      .select("id").as[Long].collect().toSeq == Seq(k1))
    assert(ManifestUpsertSink.readChanges(spark, root, 2L)
      .select("id").as[Long].collect().toSeq == Seq(k2))
  }

  test("live ingest thread racing a live compactor thread: no lost update, no dead writer") {
    import spark.implicits._
    // not a seam-injected interleaving: two real threads race the commit
    // protocol end-to-end, retries included — THE deployment shape the
    // OCC exists for (one ingest pipeline + a maintenance job; the batch
    // id replay guard is a single monotonic sequence, so a second
    // independent ingest pipeline is out of contract by design)
    val root = java.nio.file.Files.createTempDirectory("graft_occ_threads_").toString
    val seed = new ManifestUpsertSink(root, "id", buckets = 4)
    seed.upsertBatch((1L to 40L).map(i => (i, s"seed-$i", 0L)).toDF("id", "p", "seq"), "seq", 0L)
    val rounds = 6
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ingest = new Thread(() => {
      try {
        val sink = new ManifestUpsertSink(root, "id", buckets = 4)
        for (r <- 1 to rounds)
          sink.upsertBatch(
            (1L to 10L).map(i => (i, s"r$r-$i", r.toLong)).toDF("id", "p", "seq"),
            "seq", r.toLong)
      } catch { case t: Throwable => errors.add(t) }
    })
    val compactor = new Thread(() => {
      try {
        val sink = new ManifestUpsertSink(root, "id", buckets = 4)
        for (_ <- 1 to rounds) sink.compactIncremental(spark, minFilesPerBucket = 2)
      } catch { case t: Throwable => errors.add(t) }
    })
    ingest.start(); compactor.start()
    ingest.join(180000); compactor.join(180000)
    assert(!ingest.isAlive && !compactor.isAlive, "writer threads must finish")
    assert(errors.isEmpty,
      s"neither ingest nor compactor may die under racing: ${errors.peek()}")

    val m = ManifestUpsertSink.snapshotManifest(root, None)
    assert(m.batchId == rounds.toLong, "the replay guard tracks the last INGESTED batch")
    val got = seed.read(spark).select("id", "p").as[(Long, String)].collect().toMap
    assert((1L to 10L).forall(i => got(i) == s"r$rounds-$i"),
      "the last ingest round's values must survive every concurrent compaction")
    assert((11L to 40L).forall(i => got(i) == s"seed-$i") && got.size == 40)
    // every data-changing version's feed landed under its committed name
    // (compaction versions record no feed — touched is empty)
    for (v <- 1L to m.version) {
      val vm = ManifestUpsertSink.snapshotManifest(root, Some(v))
      if (vm.touched.exists(_.nonEmpty))
        assert(ManifestUpsertSink.readChanges(spark, root, v).count() == 10L,
          s"merge version v$v must keep its 10-row feed")
    }
  }

  test("vacuum orphan sweep: age-gated reclaim of never-committed dirs, None leaves them alone") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_occ_orphan_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4)
    sink.upsertBatch(Seq((1L, "a", 1L)).toDF("id", "p", "seq"), "seq", 0L)
    // a crashed writer's debris: an unreferenced data dir + feed stage
    val orphanData = java.nio.file.Paths.get(root, "data", "v9-deadbeef", "__bucket=0")
    java.nio.file.Files.createDirectories(orphanData)
    java.nio.file.Files.write(orphanData.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    val orphanStage = java.nio.file.Paths.get(root, "_stage", "deadbeef")
    java.nio.file.Files.createDirectories(orphanStage)
    java.nio.file.Files.write(orphanStage.resolve("part-0.parquet"), Array[Byte](1))

    sink.vacuum(keepVersions = 1) // default: no sweep — in-flight writers are safe
    assert(java.nio.file.Files.exists(orphanData) && java.nio.file.Files.exists(orphanStage))
    sink.vacuum(keepVersions = 1, orphanGraceMs = Some(Long.MaxValue)) // young enough to keep
    assert(java.nio.file.Files.exists(orphanData) && java.nio.file.Files.exists(orphanStage))
    sink.vacuum(keepVersions = 1, orphanGraceMs = Some(0L)) // past grace: reclaimed
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "data", "v9-deadbeef")))
    assert(!java.nio.file.Files.exists(orphanStage))
    // committed data untouched by the sweep
    assert(sink.read(spark).count() == 1)
  }
}
