package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.ManifestUpsertSink

/** Copy-on-write and merge-on-read must be two write economics of ONE
  * row-level semantics. A fixed-seed sequence of upserts, deletes and
  * mixed statements runs against a CoW table, a MoR table whose small
  * per-bucket dv cap makes some statements fall back to copy-on-write,
  * and an in-memory Map model. After every statement: both snapshots
  * equal the model, both tables' change feeds for the statement equal
  * the model's (as a multiset of key, change, old and new image; empty
  * when nothing committed), and the MoR table's metadata-only COUNT(*)
  * equals the model's size. The sequence ends with a statement whose
  * batch repeats a key at a tied order value, so the LWW tiebreak must
  * pick the model's winner. It runs twice: on the default session, where
  * these small statement sides are collected to the driver, and with
  * `spark.sql.autoBroadcastJoinThreshold=-1`, where they stay lazy
  * frames. */
class ManifestRowLevelParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Steps = 10
  private val Keys = 24
  private val Cap = 3L

  private type Row3 = (Long, String, Long)
  private type Change = (Long, String, Option[String], Option[String])

  private def image(r: Row3): String = s"""{"id":${r._1},"p":"${r._2}","seq":${r._3}}"""

  private def snapshot(root: String): Map[Long, Row3] = {
    import spark.implicits._
    ManifestUpsertSink.read(spark, root).select("id", "p", "seq").as[Row3]
      .collect().map(r => r._1 -> r).toMap
  }

  private def version(root: String): Option[Long] =
    ManifestUpsertSink.latestManifest(root).map(_.version)

  /** The statement's change feed: the new version's rows, or nothing
    * when the statement committed no version. */
  private def feedOf(root: String, before: Option[Long]): Seq[Change] =
    version(root).filter(v => !before.contains(v)).toSeq.flatMap { v =>
      ManifestUpsertSink.readChanges(spark, root, v)
        .select(col("id"), col("change"), col("old_image"), col("new_image"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          Option(r.getString(2)), Option(r.getString(3))))
    }.sortBy(_.toString)

  /** The LWW tiebreak of a tied order value: the larger xxhash64 of the
    * row's sorted-column JSON image wins. */
  private def tiebreak(r: Row3): Long = {
    import spark.implicits._
    Seq(image(r)).toDF("j").select(xxhash64(col("j"))).as[Long].head()
  }

  private def paritySequence(): Unit = {
    import spark.implicits._
    val rnd = new Random(20261018L)
    val cowRoot = Files.createTempDirectory("graft_parity_cow_").toString
    val morRoot = Files.createTempDirectory("graft_parity_mor_").toString
    val cow = new ManifestUpsertSink(cowRoot, "id", 4)
    val mor = new ManifestUpsertSink(morRoot, "id", 4)
    var model = Map.empty[Long, Row3]
    var morAppends = 0
    var morRewrites = 0

    def upserts(step: Int): Seq[Row3] = {
      val keys = Seq.fill(1 + rnd.nextInt(if (step == 0) 16 else 5))(1L + rnd.nextInt(Keys)).distinct
      // a key may appear twice: the higher seq must win the LWW window
      keys.flatMap { k =>
        val row = (k, s"s${step}k${k}v${rnd.nextInt(100)}", 10L * step + 5)
        if (rnd.nextInt(4) == 0) Seq((k, s"s${step}k${k}stale", 10L * step + 1), row) else Seq(row)
      }
    }
    def deletes(): Seq[Long] =
      Seq.fill(1 + rnd.nextInt(4))(1L + rnd.nextInt(Keys + 6)).distinct

    // the last statement: key 3 twice and key 30 three times at one seq
    // (30 also deleted, so the upsert must win over its own delete)
    val tied: Seq[Row3] = Seq((3L, "tieA", 777L), (3L, "tieB", 777L),
      (30L, "tieC", 777L), (30L, "tieD", 777L), (30L, "tieE", 777L), (3L, "old", 700L))

    for (step <- 0 to Steps) {
      val kind = if (step == 0) 0 else if (step == Steps) 2 else rnd.nextInt(3)
      val ups = if (step == Steps) tied else if (kind == 1) Nil else upserts(step)
      val dels = if (step == Steps) Seq(30L, 4L) else if (kind == 0) Nil else deletes()
      val upsDf: DataFrame = ups.toDF("id", "p", "seq")
      val delDf: DataFrame = dels.toDF("id")
      val id = step.toLong
      val (cowV, morV) = (version(cowRoot), version(morRoot))
      val morFiles = ManifestUpsertSink.latestManifest(morRoot).map(_.files.map(_.path).toSet)
      kind match {
        case 0 =>
          cow.upsertBatch(upsDf, "seq", id)
          mor.upsertMergeOnRead(upsDf, "seq", id, Cap)
        case 1 =>
          cow.deleteKeys(delDf, id)
          mor.deleteKeysMergeOnRead(delDf, id, Cap)
        case _ =>
          cow.applyDelta(upsDf, delDf, "seq", id)
          mor.applyDeltaMergeOnRead(upsDf, delDf, "seq", id, Cap)
      }
      // the model: LWW within the statement, an upserted key survives its
      // own delete, deletes of absent keys change nothing
      val won = ups.groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(r => (r._3, tiebreak(r))) }
      val expected: Seq[Change] = (won.values.toSeq.map { r =>
        val old = model.get(r._1)
        (r._1, if (old.isDefined) "updated" else "inserted", old.map(image), Some(image(r)))
      } ++ dels.filterNot(won.contains).flatMap { k =>
        model.get(k).map(old => (k, "deleted", Some(image(old)), Option.empty[String]))
      }).sortBy(_.toString)
      model = model -- dels ++ won
      val label = s"step $step (kind $kind, ups $ups, dels $dels)"

      assert(snapshot(cowRoot) == model, s"CoW snapshot diverged from the model at $label")
      assert(snapshot(morRoot) == model, s"MoR snapshot diverged from the model at $label")
      assert(feedOf(cowRoot, cowV) == expected, s"CoW change feed wrong at $label")
      assert(feedOf(morRoot, morV) == expected, s"MoR change feed wrong at $label")
      val countDf = spark.read.format("graft-manifest").load(morRoot).agg(count(lit(1)))
      assert(countDf.queryExecution.executedPlan.toString.contains("LocalTableScan"),
        s"MoR COUNT(*) must be answered from metadata at $label")
      val counted = countDf.as[Long].head()
      assert(counted == model.size, s"MoR metadata COUNT(*) $counted != ${model.size} at $label")
      for (m <- ManifestUpsertSink.latestManifest(morRoot)) {
        val fileRows = if (m.files.isEmpty) 0L else spark.read.parquet(m.files.map(_.path): _*).count()
        val dvRows = m.dvs.map(_.rows).sum
        assert(fileRows - dvRows == model.size,
          s"MoR Σfile rows $fileRows − Σdv rows $dvRows != ${model.size} at $label")
      }
      if (version(morRoot) != morV) {
        val now = ManifestUpsertSink.latestManifest(morRoot).get.files.map(_.path).toSet
        if (morFiles.forall(_.subsetOf(now))) morAppends += 1 else morRewrites += 1
      }
    }
    info(s"MoR commits: $morAppends merge-on-read, $morRewrites copy-on-write fallbacks")
    assert(morAppends > 0 && morRewrites > 0,
      s"the sequence must exercise both MoR commits ($morAppends) and over-cap " +
        s"copy-on-write fallbacks ($morRewrites)")
  }

  test("CoW, MoR (with over-cap fallbacks) and a Map model agree after every statement") {
    paritySequence()
  }

  test("the same sequence agrees with the model when every side stays a lazy frame (threshold -1)") {
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold", "-1")(paritySequence())
  }
}
