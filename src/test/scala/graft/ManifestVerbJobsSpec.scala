package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.ManifestUpsertSink

/** Spark-job pins for the six row-level verbs: each verb runs once on a
  * freshly seeded 4-bucket table (40 rows) and a SparkListener counts
  * the jobs it starts. The pins are the counts of the verbs as they
  * stand, so a refactor of the write path cannot add an action
  * unnoticed; a change that removes jobs lowers the pins with it. The
  * six run on dv-free tables; one more pin covers a merge-on-read upsert
  * on a table that already holds a live deletion vector. Every pin is
  * taken twice: on the default session, where these driver-sized sides
  * are collected once and re-read as local relations, and with
  * `spark.sql.autoBroadcastJoinThreshold=-1`, where every side stays a
  * lazy frame and plans its shuffles. */
class ManifestVerbJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val LocalPins = Map(
    "upsertBatch" -> 6,
    "deleteKeys" -> 6,
    "applyDelta" -> 9,
    "upsertMergeOnRead" -> 5,
    "deleteKeysMergeOnRead" -> 4,
    "applyDeltaMergeOnRead" -> 8)
  private val LocalDvPin = 6

  // the counts the lazy-frame plans read at -1 before the local path
  // existed; at the default threshold those plans broadcast where these
  // sort-merge, and read applyDelta 20, applyDeltaMergeOnRead 18
  private val DistributedPins = Map(
    "upsertBatch" -> 10,
    "deleteKeys" -> 9,
    "applyDelta" -> 18,
    "upsertMergeOnRead" -> 10,
    "deleteKeysMergeOnRead" -> 7,
    "applyDeltaMergeOnRead" -> 17)
  private val DistributedDvPin = 11

  /** Runs `body` with the broadcast threshold at -1. */
  private def distributed[T](body: => T): T =
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(body)

  private def seeded(): ManifestUpsertSink = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_verb_jobs_").toString
    val sink = new ManifestUpsertSink(root, "id", 4)
    sink.upsertBatch((1 to 40).map(i => (i.toLong, s"p$i", 1L))
      .toDF("id", "p", "seq"), "seq", 0L)
    sink
  }

  private def jobsOf(body: => Unit): Int = TestSpark.jobsOf(body)._1

  private def verbJobs(): Map[String, Int] = {
    import spark.implicits._
    // the same statement shapes on every table: three updates and two
    // inserts, three deletes of live keys, and a mixed statement
    def ups = Seq((1L, "u1", 2L), (2L, "u2", 2L), (3L, "u3", 2L),
      (41L, "n41", 2L), (42L, "n42", 2L)).toDF("id", "p", "seq")
    def dels = Seq(5L, 6L, 7L).toDF("id")
    def mixedUps = Seq((1L, "m1", 2L), (43L, "n43", 2L)).toDF("id", "p", "seq")
    def mixedDels = Seq(8L, 9L).toDF("id")
    val verbs: Seq[(String, ManifestUpsertSink => Unit)] = Seq(
      "upsertBatch" -> (_.upsertBatch(ups, "seq", 1L)),
      "deleteKeys" -> (_.deleteKeys(dels, 1L)),
      "applyDelta" -> (_.applyDelta(mixedUps, mixedDels, "seq", 1L)),
      "upsertMergeOnRead" -> (_.upsertMergeOnRead(ups, "seq", 1L)),
      "deleteKeysMergeOnRead" -> (_.deleteKeysMergeOnRead(dels, 1L)),
      "applyDeltaMergeOnRead" -> (_.applyDeltaMergeOnRead(mixedUps, mixedDels, "seq", 1L)))
    verbs.map { case (name, run) =>
      val sink = seeded()
      name -> jobsOf(run(sink))
    }.toMap
  }

  /** A MoR upsert into buckets that hold a live dv; checks the snapshot. */
  private def dvUpsertJobs(): Int = {
    import spark.implicits._
    val sink = seeded()
    sink.deleteKeysMergeOnRead(Seq(5L, 6L, 7L).toDF("id"), 1L)
    // the upserts land in the dv'd buckets (5 and 6 come back to life)
    val ups = Seq((5L, "r5", 2L), (6L, "r6", 2L), (8L, "u8", 2L), (43L, "n43", 2L))
      .toDF("id", "p", "seq")
    val jobs = jobsOf(sink.upsertMergeOnRead(ups, "seq", 2L))
    assert(sink.read(spark).select("id").as[Long].collect().toSet ==
      (1L to 40L).toSet - 7L + 43L)
    jobs
  }

  test("each row-level verb runs its pinned number of Spark jobs") {
    val counts = verbJobs()
    info(s"jobs per verb: $counts")
    assert(counts == LocalPins, s"verb job counts moved: got $counts, pinned $LocalPins")
  }

  test("above the broadcast threshold each verb plans its shuffles, at its pinned job count") {
    val counts = distributed(verbJobs())
    info(s"jobs per verb: $counts")
    assert(counts == DistributedPins,
      s"verb job counts moved: got $counts, pinned $DistributedPins")
  }

  test("a MoR upsert over a live dv reads the dv keys under the stamp, without a schema-merge job") {
    // 12 on the lazy path while the dv files were read with mergeSchema:
    // its footer union ran as a Spark job of its own on every such statement
    val jobs = dvUpsertJobs()
    assert(jobs == LocalDvPin, s"MoR upsert over a live dv ran $jobs jobs, pinned $LocalDvPin")
    val lazyJobs = distributed(dvUpsertJobs())
    assert(lazyJobs == DistributedDvPin,
      s"MoR upsert over a live dv above the threshold ran $lazyJobs jobs, pinned $DistributedDvPin")
  }
}
