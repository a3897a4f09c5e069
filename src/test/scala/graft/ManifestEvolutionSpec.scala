package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.ManifestUpsertSink

/** Schema + partition evolution on the manifest lake: column rename as
  * a metadata-only mapping (zero data I/O, materialized by the next
  * full compaction) and re-cluster epoch changes that swap the
  * committed (keyCol, buckets) pair — history stays readable under each
  * version's OWN bucketing and mapping. */
class ManifestEvolutionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def scannedFiles(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.scan match {
        case m: graft.sources.ManifestSource.ManifestScan => m.plannedFiles.length
        case p: ParquetScan => p.fileIndex.inputFiles.length
      }
    }.sum

  test("column rename is metadata-only; mixed vintages read correctly; compaction materializes") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_ren_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4)
    sink.upsertBatch(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "p", "seq"), "seq", 0L)
    val filesBefore = ManifestUpsertSink.snapshotManifest(root, None).files.map(_.path).toSet

    // invalid renames are rejected upfront: a junk mapping would wedge
    // the connector, a collision would silently merge two columns
    intercept[IllegalArgumentException] { sink.renameColumn(spark, "nope", "x") }
    intercept[IllegalArgumentException] { sink.renameColumn(spark, "p", "seq") }

    sink.renameColumn(spark, "p", "payload")
    val m1 = ManifestUpsertSink.snapshotManifest(root, None)
    assert(m1.files.map(_.path).toSet == filesBefore,
      "a rename must not rewrite a single data file")
    assert(m1.renames == Seq("p" -> "payload"))
    assert(sink.read(spark).columns.toSet == Set("id", "payload", "seq"))
    assert(sink.read(spark).select("id", "payload").as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b"), "old files read under the logical name")

    // time travel: v0 predates the rename and reads its OWN schema
    assert(ManifestUpsertSink.readVersion(spark, root, 0L).columns.contains("p"))

    // merge AFTER the rename: the batch writes `payload` physically; the
    // touched bucket's old-vintage survivors map through the rename
    sink.upsertBatch(Seq((2L, "b2", 2L), (3L, "c", 2L)).toDF("id", "payload", "seq"), "seq", 1L)
    assert(sink.read(spark).select("id", "payload").as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b2", 3L -> "c"),
      "mixed-vintage snapshot must coalesce old and new physical columns")

    // the SQL connector serves the LIVE mapping immediately — mixed
    // vintages fold inside the scan (coalesce of new/old physical
    // columns), no compaction prerequisite
    assert(spark.read.format("graft-manifest").load(root)
      .select("id", "payload").as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b2", 3L -> "c"),
      "SQL read must fold the rename mapping across mixed vintages")
    // and a point lookup on the renamed KEY still bucket-prunes + matches
    assert(spark.read.format("graft-manifest").load(root)
      .filter($"id" === 2L).select("payload").as[String].collect().toSeq == Seq("b2"))

    // full compaction MATERIALIZES (an optimization, not a prerequisite):
    // mapping cleared, the fully-vectorized scan takes over
    sink.compact(spark)
    assert(ManifestUpsertSink.snapshotManifest(root, None).renames.isEmpty)
    assert(spark.read.format("graft-manifest").load(root)
      .select("id", "payload").as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("a retired physical name cannot be reused — rename-time and merge-time guards") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_reuse_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4)
    sink.upsertBatch(Seq((1L, "a", 1L)).toDF("id", "p", "seq"), "seq", 0L)
    sink.renameColumn(spark, "p", "payload")

    // rename seq->p would pass a logical-only check (`p` is mapped away)
    // but post-rename merges write physical `p`, which applyRenames'
    // earlier (p,payload) pair would coalesce INTO payload — the reused
    // column would silently read null. Refuse at DDL time.
    val e = intercept[IllegalArgumentException] { sink.renameColumn(spark, "seq", "p") }
    assert(e.getMessage.contains("retired"), e.getMessage)

    // schema evolution reaches the same hazard with NO DDL: a batch
    // carrying the retired name must be refused at merge time
    val e2 = intercept[IllegalArgumentException] {
      sink.upsertBatch(Seq((2L, "x", "boom", 2L))
        .toDF("id", "payload", "p", "seq"), "seq", 1L)
    }
    assert(e2.getMessage.contains("retired"), e2.getMessage)

    // chained renames stay legal (payload->body; old physical `p` maps
    // through both pairs in order)
    sink.renameColumn(spark, "payload", "body")
    assert(sink.read(spark).select("id", "body").as[(Long, String)].collect().toMap
      == Map(1L -> "a"))
    // the SQL scan folds the CHAIN too: body <- coalesce(body, payload, p)
    // across all three physical vintages, live, no compaction
    assert(spark.read.format("graft-manifest").load(root)
      .select("id", "body").as[(Long, String)].collect().toMap == Map(1L -> "a"),
      "SQL read must fold chained renames across vintages")

    // compaction materializes the chain — the names are then free again
    sink.compact(spark)
    assert(ManifestUpsertSink.snapshotManifest(root, None).renames.isEmpty)
    sink.renameColumn(spark, "body", "p")
    assert(sink.read(spark).columns.toSet == Set("id", "p", "seq"))
  }

  test("rename-fold parity: the SQL scan's schema fold and source map replay applyRenames exactly") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // the SQL surface re-derives the Scala path's column fold TWICE —
    // applyRenamesSchema (logical schema from a union footer schema) and
    // renameSources (per-logical coalesce order) — so chained and
    // disjoint mappings over every vintage subset must agree with the
    // ground-truth DataFrame fold, or the two surfaces silently drift
    val chains: Seq[Seq[(String, String)]] = Seq(
      Seq("a" -> "b"),
      Seq("a" -> "b", "b" -> "c"),            // chained: c <- (c, b, a)
      Seq("a" -> "b", "x" -> "y"),            // disjoint pairs
      Seq("a" -> "b", "b" -> "c", "x" -> "y"))
    for (renames <- chains) {
      val sources = renames.map(_._1).toSet
      val logical = renames.map(_._2).toSet -- sources
      val universe = (sources ++ logical + "k").toSeq.sorted
      // every subset of the universe is a possible union footer schema
      // (each file vintage contributes some physical columns)
      for (bits <- 0 until (1 << universe.size); if bits != 0) {
        val present = universe.zipWithIndex.collect {
          case (c, i) if (bits & (1 << i)) != 0 => c }
        val df = spark.range(1).selectExpr(
          present.map(c => s"'v_$c' AS `$c`"): _*)
        val truth = ManifestUpsertSink.applyRenames(df, renames)
        val foldedSchema = graft.sources.ManifestSource.applyRenamesSchema(
          StructType(present.map(StructField(_, StringType))), renames)
        assert(foldedSchema.fieldNames.toSeq == truth.columns.toSeq,
          s"schema fold drifted for renames=$renames present=$present")
        // source map: logical <- coalesce(sources...) order must equal the
        // DataFrame fold's nested-coalesce value on a full-universe frame
        val srcMap = graft.sources.ManifestSource.renameSources(
          StructType(truth.columns.map(StructField(_, StringType))), renames)
        for ((lname, srcs) <- srcMap if srcs.size > 1) {
          val firstPresent = srcs.find(present.contains)
          val got = truth.columns.indexOf(lname) match {
            case -1 => None
            case i => Option(truth.head().getString(i))
          }
          assert(got == firstPresent.map(c => s"v_$c"),
            s"coalesce order drifted for $lname: renames=$renames present=$present " +
              s"srcs=$srcs got=$got")
        }
      }
    }
  }

  test("manifest header separators in column names are rejected at commit time") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_names_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 2)
    sink.upsertBatch(Seq((1L, "a", 1L)).toDF("id", "p", "seq"), "seq", 0L)
    // the rename mapping encodes as `phys:logical,phys:logical` on one
    // header line — names carrying the codec's separators would commit
    // a manifest that decodes wrong (or not at all); refuse them
    for (badName <- Seq("a:b", "a,b", "a\tb", "a\nb")) {
      val e = intercept[IllegalArgumentException] { sink.renameColumn(spark, "p", badName) }
      assert(e.getMessage.contains("separator"), s"'$badName': ${e.getMessage}")
    }
    // the table is untouched by the refused DDLs
    assert(ManifestUpsertSink.snapshotManifest(root, None).renames.isEmpty)
    assert(sink.read(spark).count() == 1)
  }

  test("renaming the key column re-keys the table; the old sink handle dies loudly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_key_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4)
    sink.upsertBatch(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "p", "seq"), "seq", 0L)
    val rekeyed = sink.renameColumn(spark, "id", "doc_id")
    assert(ManifestUpsertSink.snapshotManifest(root, None).keyCol.contains("doc_id"))
    // the stale handle must not silently mis-route keys
    val e = intercept[IllegalStateException] {
      sink.upsertBatch(Seq((9L, "x", 9L)).toDF("id", "p", "seq"), "seq", 1L)
    }
    assert(e.getMessage.contains("keyCol"))
    // the re-keyed sink merges under the logical key; hashing is over
    // VALUES so the carried buckets still route correctly
    rekeyed.upsertBatch(Seq((2L, "b2", 2L), (3L, "c", 2L)).toDF("doc_id", "p", "seq"), "seq", 1L)
    assert(rekeyed.read(spark).select("doc_id", "p").as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  test("re-cluster epoch: new (keyCol, buckets) pair; history prunes with its own bucketing") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_epoch_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 2)
    sink.upsertBatch((1L to 400L).map(i => (i, i % 50L, i * 1.0, 0L))
      .toDF("id", "user", "v", "seq"), "seq", 0L)
    val preEpoch = ManifestUpsertSink.snapshotManifest(root, None).version

    // epoch change: the workload's point-lookup key moved to `user`
    val next = sink.recluster(spark, "user", 8)
    val m = ManifestUpsertSink.snapshotManifest(root, None)
    assert(m.keyCol.contains("user") && m.buckets.contains(8))
    assert(next.read(spark).count() == 400, "re-cluster preserves every row")

    // POST-epoch point lookup prunes with the NEW bucketing
    val table = spark.read.format("graft-manifest").load(root)
    val total = scannedFiles(table)
    val post = table.filter(col("user") === 7L)
    assert(scannedFiles(post) < total && scannedFiles(post) <= total / 4,
      s"post-epoch lookup must read ~1/8 of files: ${scannedFiles(post)} of $total")
    assert(post.count() == 8)

    // PRE-epoch snapshot still reads AND PRUNES under the OLD bucketing
    val v0 = spark.read.format("graft-manifest").option("versionAsOf", preEpoch).load(root)
    val v0total = scannedFiles(v0)
    val v0hit = v0.filter(col("id") === 123L)
    assert(scannedFiles(v0hit) < v0total,
      "time travel must bucket-prune with the version's own committed pair")
    assert(v0hit.count() == 1)

    // the old-epoch handle dies loudly; the new one merges on
    intercept[IllegalStateException] {
      sink.upsertBatch(Seq((401L, 1L, 1.0, 1L)).toDF("id", "user", "v", "seq"), "seq", 1L)
    }
    next.upsertBatch(Seq((401L, 99L, 1.0, 1L)).toDF("id", "user", "v", "seq"), "seq", 1L)
    assert(next.read(spark).count() == 401)
  }

  test("a merge racing an epoch change aborts loudly instead of rebasing across it") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_race_").toString
    val seed = new ManifestUpsertSink(root, "id", buckets = 2)
    seed.upsertBatch((1L to 20L).map(i => (i, i % 5L, s"v$i", 0L))
      .toDF("id", "user", "p", "seq"), "seq", 0L)
    val reclusterer = new ManifestUpsertSink(root, "id", buckets = 2)
    var fired = false
    val merger = new ManifestUpsertSink(root, "id", buckets = 2) {
      override protected def beforeCommit(attemptVersion: Long): Unit =
        if (!fired) { fired = true; reclusterer.recluster(spark, "user", 8); () }
    }
    val e = intercept[IllegalStateException] {
      merger.upsertBatch(Seq((1L, 1L, "mid-epoch", 1L))
        .toDF("id", "user", "p", "seq"), "seq", 1L)
    }
    assert(e.getMessage.contains("buckets") || e.getMessage.contains("keyCol"),
      s"cross-epoch rebase must abort on the committed-pair guard: ${e.getMessage}")
    val m = ManifestUpsertSink.snapshotManifest(root, None)
    assert(m.keyCol.contains("user") && m.buckets.contains(8),
      "the epoch change must stand; the losing merge wrote nothing visible")
  }

  test("ADD COLUMN is metadata-only: typed null fill, mixed vintages, compaction materializes") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_add_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4)
    sink.upsertBatch(Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      .toDF("id", "p", "seq"), "seq", 0L)
    val filesBefore = ManifestUpsertSink.snapshotManifest(root, None).files.map(_.path).toSet

    intercept[IllegalArgumentException] { sink.addColumn(spark, "p", "string") } // exists
    intercept[Exception] { sink.addColumn(spark, "junk", "not a type") } // junk DDL

    sink.addColumn(spark, "score", "double")
    val m1 = ManifestUpsertSink.snapshotManifest(root, None)
    assert(m1.files.map(_.path).toSet == filesBefore,
      "ADD COLUMN must not rewrite a single data file")
    assert(m1.addedCols == Seq("score" -> "double"))
    // Scala read: typed null where no file carries the column
    val r1 = sink.read(spark)
    assert(r1.schema("score").dataType == org.apache.spark.sql.types.DoubleType)
    assert(r1.filter(col("score").isNull).count() == 3)
    // SQL connector serves it immediately, same typed nulls
    val sql1 = spark.read.format("graft-manifest").load(root)
    assert(sql1.schema("score").dataType == org.apache.spark.sql.types.DoubleType)
    assert(sql1.filter(col("score").isNull).count() == 3)
    // time travel: v0 predates the add and has no score column
    assert(!ManifestUpsertSink.readVersion(spark, root, 0L).columns.contains("score"))

    // post-add merge writes the column physically; untouched buckets
    // keep null-filling through the fold
    sink.upsertBatch(Seq((2L, "b2", 0.5, 2L)).toDF("id", "p", "score", "seq"), "seq", 1L)
    val got = sink.read(spark).select("id", "score")
      .as[(Long, Option[Double])].collect().toMap
    assert(got == Map(1L -> None, 2L -> Some(0.5), 3L -> None),
      "mixed vintages: physical value where written, typed null elsewhere")
    assert(spark.read.format("graft-manifest").load(root).select("id", "score")
      .as[(Long, Option[Double])].collect().toMap == got,
      "the SQL scan must null-fill exactly as the Scala fold")

    // a FULL compaction materializes: header clears, every file carries it
    sink.compact(spark)
    val m2 = ManifestUpsertSink.snapshotManifest(root, None)
    assert(m2.addedCols.isEmpty && !m2.hasEvolution)
    assert(sink.read(spark).select("id", "score")
      .as[(Long, Option[Double])].collect().toMap == got)
  }

  test("DROP COLUMN is metadata-only: fold projects it away, name stays retired until compaction") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_drop_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4)
    sink.upsertBatch(Seq((1L, "a", 9L, 1L), (2L, "b", 8L, 1L))
      .toDF("id", "p", "junk", "seq"), "seq", 0L)
    val filesBefore = ManifestUpsertSink.snapshotManifest(root, None).files.map(_.path).toSet

    intercept[IllegalArgumentException] { sink.dropColumn(spark, "id") } // key column
    intercept[IllegalArgumentException] { sink.dropColumn(spark, "ghost") } // absent

    sink.dropColumn(spark, "junk")
    val m1 = ManifestUpsertSink.snapshotManifest(root, None)
    assert(m1.files.map(_.path).toSet == filesBefore,
      "DROP COLUMN must not rewrite a single data file")
    assert(m1.droppedCols == Seq("junk"))
    assert(!sink.read(spark).columns.contains("junk"))
    assert(!spark.read.format("graft-manifest").load(root).columns.contains("junk"),
      "the SQL schema drops the column immediately")
    // time travel: the pre-drop version still reads it
    assert(ManifestUpsertSink.readVersion(spark, root, 0L)
      .select("junk").as[Long].collect().sorted.toSeq == Seq(8L, 9L))

    // the name is RETIRED: merges, re-adds, and renames onto it refuse —
    // pre-drop files still hold bytes the fold would resurrect
    intercept[IllegalArgumentException] {
      sink.upsertBatch(Seq((3L, "c", 7L, 2L)).toDF("id", "p", "junk", "seq"), "seq", 2L)
    }
    intercept[IllegalArgumentException] { sink.addColumn(spark, "junk", "bigint") }
    intercept[IllegalArgumentException] { sink.renameColumn(spark, "p", "junk") }

    // merges NOT touching the name keep working; survivors drop the bytes
    // of rewritten buckets, carried buckets keep folding
    sink.upsertBatch(Seq((2L, "b2", 2L)).toDF("id", "p", "seq"), "seq", 2L)
    assert(sink.read(spark).select("id", "p").as[(Long, String)].collect().toMap
      == Map(1L -> "a", 2L -> "b2"))

    // compaction materializes the drop and frees the name for reuse
    sink.compact(spark)
    assert(!ManifestUpsertSink.snapshotManifest(root, None).hasEvolution)
    sink.addColumn(spark, "junk", "string")
    assert(sink.read(spark).schema("junk").dataType
      == org.apache.spark.sql.types.StringType)

    // dropping a never-written metadata-only add retracts the header and
    // frees the name IMMEDIATELY (nothing physical to retire)
    sink.dropColumn(spark, "junk")
    val m2 = ManifestUpsertSink.snapshotManifest(root, None)
    assert(m2.addedCols.isEmpty && m2.droppedCols.isEmpty)
    sink.addColumn(spark, "junk", "int")
    assert(sink.read(spark).schema("junk").dataType
      == org.apache.spark.sql.types.IntegerType)
  }

  test("commit-time schema stamp: every commit carries it; unstamped vintages fall back") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_stamp_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4)
    sink.upsertBatch(Seq((1L, "a", 1L)).toDF("id", "p", "seq"), "seq", 0L)
    val m0 = ManifestUpsertSink.snapshotManifest(root, None)
    assert(m0.physSchema.isDefined, "a fresh table's first commit stamps its schema")
    val st0 = org.apache.spark.sql.types.StructType.fromDDL(m0.physSchema.get)
    assert(st0.fieldNames.toSet == Set("id", "p", "seq"),
      "the stamp excludes the __bucket/__pdate layout columns")

    // merges union the stamp; additive merge-time evolution extends it
    sink.upsertBatch(Seq((2L, "b", 1.5, 2L)).toDF("id", "p", "extra", "seq"), "seq", 1L)
    val m1 = ManifestUpsertSink.snapshotManifest(root, None)
    assert(org.apache.spark.sql.types.StructType.fromDDL(m1.physSchema.get)
      .fieldNames.toSet == Set("id", "p", "extra", "seq"))
    assert(sink.read(spark).where(col("id") === 1L).select("extra")
      .as[Option[Double]].head().isEmpty, "stamped read null-fills the old vintage")

    // a LEGACY manifest (pre-stamp vintage): strip the header — reads,
    // merges, and SQL must fall back to the footer walk, and the next
    // FULL rewrite re-stamps exactly
    val mPath = java.nio.file.Paths.get(root, "_manifest", s"v${m1.version}.manifest")
    val stripped = new String(java.nio.file.Files.readAllBytes(mPath), "UTF-8")
      .linesIterator.filterNot(_.startsWith("schema=")).mkString("\n")
    java.nio.file.Files.write(mPath, stripped.getBytes("UTF-8"))
    assert(ManifestUpsertSink.snapshotManifest(root, None).physSchema.isEmpty)
    assert(sink.read(spark).count() == 2, "unstamped snapshot reads via mergeSchema")
    assert(spark.read.format("graft-manifest").load(root).count() == 2,
      "unstamped snapshot SQL-reads via footer inference")
    // a merge on an unstamped base must NOT guess a stamp (carried files
    // unknown) ...
    sink.upsertBatch(Seq((3L, "c", 2.5, 3L)).toDF("id", "p", "extra", "seq"), "seq", 2L)
    assert(ManifestUpsertSink.snapshotManifest(root, None).physSchema.isEmpty,
      "a merge over an unstamped base stays unstamped — never guess carried schemas")
    // ... and the full rewrite re-stamps exactly
    sink.compact(spark)
    val mC = ManifestUpsertSink.snapshotManifest(root, None)
    assert(mC.physSchema.isDefined, "a full rewrite re-stamps")
    assert(sink.read(spark).count() == 3)
  }

  test("type widening is metadata-only: stamped reads promote old vintages per file") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_widen_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4)
    sink.upsertBatch(Seq((1L, 10, 1.5f, 1L), (2L, 20, 2.5f, 1L))
      .toDF("id", "n", "f", "seq"), "seq", 0L)
    val filesBefore = ManifestUpsertSink.snapshotManifest(root, None).files.map(_.path).toSet

    // refusals: key column, non-lossless, unknown, dropped
    intercept[IllegalArgumentException] { sink.widenColumn(spark, "id", "double") }
    intercept[IllegalArgumentException] { sink.widenColumn(spark, "n", "string") }
    intercept[IllegalArgumentException] { sink.widenColumn(spark, "id2", "bigint") }

    sink.widenColumn(spark, "n", "bigint")
    sink.widenColumn(spark, "f", "double")
    val m1 = ManifestUpsertSink.snapshotManifest(root, None)
    assert(m1.files.map(_.path).toSet == filesBefore,
      "widening must not rewrite a single data file")
    // old int32/float vintages read PROMOTED through the stamped schema
    val r = sink.read(spark)
    assert(r.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(r.schema("f").dataType == org.apache.spark.sql.types.DoubleType)
    assert(r.select("id", "n").as[(Long, Long)].collect().toMap
      == Map(1L -> 10L, 2L -> 20L))
    // SQL scan promotes identically (vectorized path, explicit schema)
    val sqlDf = spark.read.format("graft-manifest").load(root)
    assert(sqlDf.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(sqlDf.select("id", "f").as[(Long, Double)].collect().toMap
      == Map(1L -> 1.5, 2L -> 2.5))
    // time travel: v0 reads its OWN committed stamp (still int/float)
    val v0 = ManifestUpsertSink.readVersion(spark, root, 0L)
    assert(v0.schema("n").dataType == org.apache.spark.sql.types.IntegerType)

    // post-widen merge with a value beyond Int.MaxValue: genuinely
    // mixed narrow/wide vintages in one snapshot
    val big = Int.MaxValue.toLong + 7L
    sink.upsertBatch(Seq((3L, big, 9.0, 2L)).toDF("id", "n", "f", "seq"), "seq", 1L)
    assert(sink.read(spark).select("id", "n").as[(Long, Long)].collect().toMap
      == Map(1L -> 10L, 2L -> 20L, 3L -> big))
    assert(spark.read.format("graft-manifest").load(root)
      .where(col("n") > Int.MaxValue.toLong).select("id").as[Long].collect().toSeq
      == Seq(3L), "filters on the widened column evaluate over promoted vintages")

    // compaction materializes: every file wide, values preserved
    sink.compact(spark)
    assert(sink.read(spark).select("id", "n").as[(Long, Long)].collect().toMap
      == Map(1L -> 10L, 2L -> 20L, 3L -> big))

    // widening a RENAMED column widens its retired physical sources too
    sink.renameColumn(spark, "f", "g")
    val sink2 = new ManifestUpsertSink(root, "id", buckets = 4)
    sink2.widenColumn(spark, "g", "double") // idempotent-safe: already double
    assert(sink2.read(spark).select("id", "g").as[(Long, Double)].collect()
      .toMap.view.mapValues(v => v).toMap.size == 3)
  }

  test("widening a LIVE-renamed column serves through both the Scala fold and the SQL folding scan") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_wr_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 2)
    sink.upsertBatch(Seq((1L, 10, 1L), (2L, 20, 1L)).toDF("id", "n", "seq"), "seq", 0L)
    sink.renameColumn(spark, "n", "m") // mapping stays LIVE (no compact)
    sink.widenColumn(spark, "m", "bigint") // widens m AND retired source n
    // post-DDL merge: the new vintage carries m physically as int64
    sink.upsertBatch(Seq((3L, Int.MaxValue.toLong + 3L, 2L))
      .toDF("id", "m", "seq"), "seq", 1L)
    // the RETIRED spelling must refuse — widening an old vintage out
    // from under the live column would make the fold's coalesce coerce
    // types behind the declared schema (and could even re-type the old
    // spelling of a renamed KEY, corrupting bucket routing)
    intercept[IllegalArgumentException] { sink.widenColumn(spark, "n", "bigint") }
    val want = Map(1L -> 10L, 2L -> 20L, 3L -> (Int.MaxValue.toLong + 3L))
    assert(sink.read(spark).select("id", "m").as[(Long, Long)].collect().toMap == want)
    // SQL path: renames live -> the row-based folding scan, whose
    // delegate must ALSO promote the old int32 vintage (regression pin:
    // the widening contract holds on both reader paths)
    val sql = spark.read.format("graft-manifest").load(root)
    assert(sql.schema("m").dataType == org.apache.spark.sql.types.LongType)
    assert(sql.select("id", "m").as[(Long, Long)].collect().toMap == want)
  }

  test("stamped planning reads ZERO footers: schema resolves with every data file unreadable") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_zf_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 2)
    sink.upsertBatch(Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "p", "seq"), "seq", 0L)
    // clobber EVERY data file with garbage: any footer read now throws,
    // so a resolved schema PROVES planning never opened one — the
    // O(files) planning cost the stamp exists to eliminate at 100 TB
    val m = ManifestUpsertSink.snapshotManifest(root, None)
    assert(m.physSchema.isDefined)
    for (f <- m.files)
      java.nio.file.Files.write(java.nio.file.Paths.get(f.path),
        "not a parquet file".getBytes("UTF-8"))
    assert(spark.read.format("graft-manifest").load(root).schema
      .fieldNames.toSet == Set("id", "p", "seq"),
      "SQL schema must come off the manifest stamp, zero footer I/O")
    assert(ManifestUpsertSink.read(spark, root).schema
      .fieldNames.toSet == Set("id", "p", "seq"),
      "Scala read planning must come off the stamp too")
    // the files really are unreadable — executing the scan fails, which
    // is what certifies the schema above never touched them
    intercept[Exception] {
      spark.read.format("graft-manifest").load(root).collect()
    }
  }

  test("a narrow-typed merge into empty buckets after a widen keeps the wide stamp") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_wn_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4)
    val k1 = 1L
    sink.upsertBatch(Seq((k1, 10, 1L)).toDF("id", "n", "seq"), "seq", 0L)
    sink.widenColumn(spark, "n", "bigint")
    // a batch still spelling n as INT whose key lands in an EMPTY bucket:
    // no `current` frame coerces it, so the file is written narrow — the
    // stamp union must resolve to the WIDE type (the narrow new file
    // reads promoted like any old vintage), never un-widen or drop
    val b1 = graft.sinks.ManifestStats.bucketOf(k1, 4).get
    val k2 = (2L to 50L).find(k =>
      graft.sinks.ManifestStats.bucketOf(k, 4).get != b1).get
    sink.upsertBatch(Seq((k2, 20, 2L)).toDF("id", "n", "seq"), "seq", 1L)
    val m = ManifestUpsertSink.snapshotManifest(root, None)
    assert(m.physSchema.isDefined, "the stamp must survive the narrow merge")
    assert(org.apache.spark.sql.types.StructType.fromDDL(m.physSchema.get)("n").dataType
      == org.apache.spark.sql.types.LongType,
      "the union must keep the WIDE type — un-widening would revert the DDL")
    assert(sink.read(spark).schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(sink.read(spark).select("id", "n").as[(Long, Long)].collect().toMap
      == Map(k1 -> 10L, k2 -> 20L))
  }

  test("ADD/DROP serve through the plain VECTORIZED scan; only renames take the folding scan") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_vec_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 2)
    sink.upsertBatch(Seq((1L, "a", 9L, 1L)).toDF("id", "p", "junk", "seq"), "seq", 0L)
    sink.addColumn(spark, "score", "double")
    sink.dropColumn(spark, "junk")
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.scan
      }.get
    // add/drop are pure schema moves the stock parquet scan expresses
    // (null-fill absent, don't request dropped) — the performance path
    // must stay whole-stage/columnar, no row-based fallback
    val evolved = spark.read.format("graft-manifest").load(root).select("id", "score")
    assert(!scanOf(evolved).asInstanceOf[graft.sources.ManifestSource.ManifestScan].folded &&
      evolved.queryExecution.executedPlan.collectFirst {
        case b: BatchScanExec => b.supportsColumnar
      }.contains(true),
      "add/drop must plan the plain vectorized scan")
    assert(evolved.as[(Long, Option[Double])].collect().toSeq == Seq((1L, None)))
    // a live rename is the one shape that needs the per-row fold
    sink.renameColumn(spark, "p", "payload")
    val renamed = spark.read.format("graft-manifest").load(root).select("id", "payload")
    assert(scanOf(renamed).asInstanceOf[graft.sources.ManifestSource.ManifestScan].folded,
      "a live rename takes the folding scan until compaction materializes")
    assert(renamed.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("a column name carrying a codec separator declines the stamp, never corrupts the manifest") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_tab_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 2)
    // a tab in a column name would collide with the manifest codec's
    // header/file discriminator — the commit must DECLINE the stamp
    // (footer-walk fallback, the pre-stamp behavior), not corrupt the log
    sink.upsertBatch(Seq((1L, "x", 1L)).toDF("id", "a\tb", "seq"), "seq", 0L)
    val m = ManifestUpsertSink.snapshotManifest(root, None)
    assert(m.physSchema.isEmpty, "separator-bearing names must decline the stamp")
    assert(sink.read(spark).count() == 1, "the table still reads via the fallback")
    assert(sink.read(spark).columns.contains("a\tb"))
  }

  test("ADD COLUMN NOT NULL DEFAULT: metadata-only literal fill, mixed vintages, compaction materializes") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_dflt_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4)
    sink.upsertBatch((1 to 20).map(i => (i.toLong, s"p$i", 1L))
      .toDF("id", "p", "seq"), "seq", 0L) // v0: pre-add vintage
    sink.addColumn(spark, "tier", "string", Some("'std'")) // v1: metadata only
    assert(ManifestUpsertSink.latestManifest(root).get.files ==
      ManifestUpsertSink.manifestAt(root, 0L).get.files,
      "a defaulted add commits the SAME files — zero data I/O")
    // every read fills the literal for pre-add rows, Scala and SQL alike
    assert(sink.read(spark).select("tier").as[String].collect().toSet == Set("std"))
    val sql = spark.read.format("graft-manifest").load(root)
    assert(sql.schema("tier").nullable == false,
      "a NOT-NULL-DEFAULT column reports non-nullable")
    assert(sql.select("tier").as[String].collect().toSet == Set("std"))
    // post-add merge carries explicit values: genuinely mixed vintages
    sink.upsertBatch(Seq((2L, "p2", "gold", 2L), (21L, "p21", "gold", 2L))
      .toDF("id", "p", "tier", "seq"), "seq", 1L)
    def tiers(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.select("id", "tier").as[(Long, String)].collect().toMap
    val expected = (1 to 21).map(i =>
      i.toLong -> (if (i == 2 || i == 21) "gold" else "std")).toMap
    assert(tiers(sink.read(spark)) == expected)
    assert(tiers(spark.read.format("graft-manifest").load(root)) == expected)
    // a batch carrying explicit NULL in the defaulted column: the engine
    // treats null as "absent" (the column is declared NOT NULL) — it
    // reads as the default, the documented fold contract
    sink.upsertBatch(Seq((3L, "p3", null.asInstanceOf[String], 3L))
      .toDF("id", "p", "tier", "seq"), "seq", 2L)
    assert(tiers(sink.read(spark))(3L) == "std")
    // compaction materializes: headers clear, values physical, rows same
    val before = tiers(sink.read(spark))
    sink.compact(spark)
    val m = ManifestUpsertSink.latestManifest(root).get
    assert(m.addedCols.isEmpty && m.defaults.isEmpty,
      "compact() materializes the defaulted add and clears its headers")
    assert(tiers(sink.read(spark)) == before)
    assert(tiers(spark.read.format("graft-manifest").load(root)) == before)
  }

  test("metadata-only aggregates DECLINE on defaulted columns: physical nulls read as the default") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_dfltagg_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 1)
    sink.upsertBatch((1 to 10).map(i => (i.toLong, s"p$i", 1L))
      .toDF("id", "p", "seq"), "seq", 0L)
    sink.addColumn(spark, "tier", "string", Some("'std'"))
    // rewrite EVERY row with an explicit-null tier: the snapshot's files
    // now ALL carry the column physically, with sidecar null counts of
    // 10 — a sidecar-answered COUNT(tier) would say 0 and a sidecar MIN
    // would miss 'std' entirely, but the fold reads every null as the
    // default. The agg pushdown must decline and let the folding scan
    // answer.
    sink.upsertBatch((1 to 10).map(i => (i.toLong, s"p$i", null.asInstanceOf[String], 2L))
      .toDF("id", "p", "tier", "seq"), "seq", 1L)
    val agg = spark.read.format("graft-manifest").load(root)
      .agg(count(col("tier")).as("n"), min(col("tier")).as("mn"))
    assert(!agg.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "COUNT/MIN of a defaulted column must not answer from the sidecar")
    val row = agg.head()
    assert(row.getLong(0) == 10L && row.getString(1) == "std",
      s"the fold answers: every physical null reads as the default — got $row")
  }

  test("SQL ADD COLUMN NOT NULL DEFAULT: literal fill served live; INSERT fills omitted column") {
    val root = java.nio.file.Files.createTempDirectory("graft_evo_dfltsql_").toString
    val cat = "graft_evo_dflt"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"""CREATE TABLE $cat.t (id BIGINT, p STRING, seq BIGINT)
      TBLPROPERTIES ('keyCol'='id', 'orderCol'='seq', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.t SELECT id, concat('p', id), 0L FROM range(1, 11)")
    // a nullable DEFAULT refuses (an explicit NULL would silently read
    // as the default); NOT NULL DEFAULT is the supported form
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMN bad INT DEFAULT 7")
    }
    assert(e.getMessage.contains("NOT NULL DEFAULT"), e.getMessage)
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN score INT NOT NULL DEFAULT 42")
    assert(spark.sql(s"SELECT DISTINCT score FROM $cat.t").collect()
      .map(_.getInt(0)).toSeq == Seq(42), "pre-add rows read the literal")
    // INSERT omitting the defaulted column: Spark's own default
    // resolution fills it from the schema metadata the connector serves
    spark.sql(s"INSERT INTO $cat.t (id, p, seq) VALUES (11, 'p11', 1)")
    spark.sql(s"INSERT INTO $cat.t VALUES (12, 'p12', 1, 99)")
    val got = spark.sql(s"SELECT id, score FROM $cat.t").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == ((1 to 11).map(_.toLong -> 42) :+ (12L -> 99)).toMap,
      s"omitted column fills the default, explicit values stick: $got")
    spark.sql(s"CALL $cat.system.compact('t')")
    assert(spark.sql(s"SELECT id, score FROM $cat.t").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap == got,
      "materialization changes no value")
  }

  test("a NULL default refuses — literal NULL, post-cast null, and the SQL surface alike") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_dfltnull_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 2)
    sink.upsertBatch(Seq((1L, "a", 1L)).toDF("id", "p", "seq"), "seq", 0L)
    // DEFAULT NULL parses to Literal(null): the defaulted add stamps the
    // column NOT NULL, so admitting it would push real nulls through an
    // attribute Catalyst constant-folds IsNull away on (the r14 advisory)
    val e1 = intercept[IllegalArgumentException] {
      sink.addColumn(spark, "bad", "int", Some("NULL"))
    }
    assert(e1.getMessage.contains("NULL"), e1.getMessage)
    // a non-null literal that CASTS to null under non-ANSI eval is the
    // same hole one cast later
    val e2 = intercept[IllegalArgumentException] {
      sink.addColumn(spark, "bad", "int", Some("'abc'"))
    }
    assert(e2.getMessage.toLowerCase.contains("null"), e2.getMessage)
    // CAST(NULL AS INT) is not a bare literal — the literal gate refuses
    intercept[IllegalArgumentException] {
      sink.addColumn(spark, "bad", "int", Some("CAST(NULL AS INT)"))
    }
    assert(ManifestUpsertSink.latestManifest(root).get.defaults.isEmpty,
      "no refused default may reach the manifest")
    // the SQL ALTER path routes through the same validation
    val cat = "graft_evo_dfltnull"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      java.nio.file.Files.createTempDirectory("graft_evo_dfltnull_c_").toString)
    spark.sql(s"""CREATE TABLE $cat.t (id BIGINT, seq BIGINT)
      TBLPROPERTIES ('keyCol'='id', 'orderCol'='seq', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 0)")
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMN bad INT NOT NULL DEFAULT NULL")
    }
    assert(e3.getMessage.contains("NULL"), e3.getMessage)
  }

  test("DDL on a truncated UNSTAMPED table works: zero files must not reach the footer walk") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_evo_trunc_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 2)
    sink.upsertBatch(Seq((1L, "a", 1L)).toDF("id", "p", "seq"), "seq", 0L)
    sink.truncate() // v1: zero files
    // simulate a LEGACY truncated table: strip the schema stamp, so the
    // DDL's name-set validation has neither files nor a stamp to read —
    // the zero-path footer walk used to throw an opaque AnalysisException
    val p = java.nio.file.Paths.get(root, "_manifest", "v1.manifest")
    val kept = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .linesIterator.filterNot(_.startsWith("schema=")).mkString("\n")
    java.nio.file.Files.write(p, kept.getBytes("UTF-8"))
    sink.addColumn(spark, "flag", "boolean") // legal DDL: must not throw
    assert(ManifestUpsertSink.latestManifest(root).get.addedCols ==
      Seq("flag" -> "boolean"))
    // the table refills and serves the added column
    sink.upsertBatch(Seq((2L, "b", true, 2L)).toDF("id", "p", "flag", "seq"), "seq", 1L)
    assert(sink.read(spark).select("id", "p", "flag").as[(Long, String, Boolean)]
      .collect().toSeq == Seq((2L, "b", true)))
  }
}
