package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{ManifestStats, ManifestUpsertSink}
import graft.sinks.ManifestStats.{ColStats, FileStats}

/** File-level data skipping over the manifest lake: footer-collected
  * stats, the conservative may-match evaluator, write-path bucket
  * hashing parity, and the DSv2 connector pruning END TO END — scanned
  * file counts read off the planned `ParquetScan`'s file index, results
  * pinned against the unpruned read. */
class ManifestSkippingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Files the planned scan will actually read. */
  private def scannedFiles(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec => b.scan match {
        case m: graft.sources.ManifestSource.ManifestScan => m.plannedFiles.length
        case p: ParquetScan => p.fileIndex.inputFiles.length
      }
    }.sum

  // ------------------------------------------------------ stats + codec

  test("footer stats: min/max/nulls/rows per top-level column, codec round-trips") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stats_").toString
    Seq((5L, 2.5, "bb", Some(1L)), (1L, -3.0, "aa", None), (9L, 0.0, "zz", Some(7L)))
      .toDF("k", "v", "s", "opt")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val path = new java.io.File(dir).listFiles()
      .map(_.toString).filter(_.endsWith(".parquet")).head

    val fs = ManifestStats.collect(Seq(path))(path)
    assert(fs.rows == 3L)
    assert(fs.cols("k") == ColStats('L', Some(1L), Some(9L), Some(0L)))
    // max 0.0 is widened to +0.0 (no-op here); min is the true -3.0
    assert(fs.cols("v").kind == 'D' && fs.cols("v").min.contains(-3.0)
      && fs.cols("v").max.contains(2.5))
    assert(fs.cols("s").min.map(b => new String(b.asInstanceOf[Array[Byte]], "UTF-8"))
      .contains("aa"))
    assert(fs.cols("opt").nulls.contains(1L) && fs.cols("opt").max.contains(7L))

    val decoded = ManifestStats.decode(ManifestStats.encode(Map(path -> fs)))(path)
    assert(decoded.rows == fs.rows && decoded.cols("k") == fs.cols("k"))
    assert(java.util.Arrays.equals(
      decoded.cols("s").max.get.asInstanceOf[Array[Byte]],
      fs.cols("s").max.get.asInstanceOf[Array[Byte]]))
    // torn sidecar decodes to empty — advisory, never fatal
    assert(ManifestStats.decode("C\tgarbage").isEmpty)
  }

  test("sidecar format is versioned: pre-version sidecars are discarded, not carried") {
    val fs = FileStats(10L, Map("c" -> ColStats('L', Some(5L), Some(9L), Some(0L))))
    val enc = ManifestStats.encode(Map("f1" -> fs))
    assert(enc.startsWith(s"V\t${ManifestStats.FormatVersion}\n"),
      "every encoded sidecar leads with the format version line")
    assert(ManifestStats.decode(enc) == Map("f1" -> fs))
    // a sidecar WITHOUT the version line is a pre-versioning vintage —
    // its 'L' bounds may be in a retired unit (the MILLIS-era timestamp
    // scaling), and commitRebasing would carry the poison forever: it
    // must decode EMPTY (unpruned scan, never wrong pruning)
    val legacy = enc.linesIterator.drop(1).mkString("\n")
    assert(legacy.startsWith("F\t") && ManifestStats.decode(legacy).isEmpty)
    // a FUTURE version is equally foreign
    assert(ManifestStats.decode(s"V\t${ManifestStats.FormatVersion + 1}\n" + legacy).isEmpty)
  }

  test("one load() = one snapshot: a commit landing after load is not served by its scans") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_pin_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4)
    sink.upsertBatch((1L to 10L).map(i => (i, s"v$i", 0L)).toDF("id", "p", "seq"), "seq", 0L)
    // load() infers the schema from the resolved snapshot; the scan must
    // reuse THAT resolution, not re-resolve at first action — otherwise
    // a commit in between serves rows the schema was never inferred from
    val pinned = spark.read.format("graft-manifest").load(root)
    sink.upsertBatch((11L to 15L).map(i => (i, s"v$i", 1L)).toDF("id", "p", "seq"), "seq", 1L)
    assert(pinned.count() == 10, "the loaded frame serves the load-time snapshot")
    assert(spark.read.format("graft-manifest").load(root).count() == 15,
      "a fresh load() sees the new commit")
  }

  test("MILLIS-written timestamp bounds normalize to micros; in-range literals never prune") {
    import spark.implicits._
    import org.apache.spark.sql.sources._
    val dir = java.nio.file.Files.createTempDirectory("graft_statsm_").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    val before = spark.conf.get("spark.sql.parquet.outputTimestampType")
    // the foreign-writer / legacy-conf case the r09 advisory flagged:
    // millis physical unit, while filter literals always become micros
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try Seq(t0, t1).toDF("t").coalesce(1).write.mode("overwrite").parquet(dir)
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", before)
    val path = new java.io.File(dir).listFiles()
      .map(_.toString).filter(_.endsWith(".parquet")).head
    val fs = ManifestStats.collect(Seq(path))(path)
    // epoch micros (whole seconds, so exactly getTime*1000)
    assert(fs.cols("t") == ColStats('L',
      Some(t0.getTime * 1000L), Some(t1.getTime * 1000L), Some(0L)))
    def m(f: Filter) = ManifestStats.mayMatch(0L, Some(fs), None, f)
    // un-normalized millis bounds would compare 1000x small and prune
    // BOTH of these in-range literals — the silent-empty-result bug
    assert(m(EqualTo("t", t0)) && m(EqualTo("t", t1)))
    assert(m(GreaterThan("t", t0)))
    // sound pruning outside the range still works, in both directions
    assert(!m(GreaterThan("t", t1)))
    assert(!m(LessThan("t", t0)))
    assert(!m(EqualTo("t", java.sql.Timestamp.valueOf("2025-12-31 00:00:00"))))
  }

  test("mayMatch: interval logic, null counts, And/Or, unknowns stay conservative") {
    import org.apache.spark.sql.sources._
    val fs = Some(FileStats(10L, Map(
      "k" -> ColStats('L', Some(10L), Some(20L), Some(0L)),
      "s" -> ColStats('S', Some("bb".getBytes("UTF-8")), Some("dd".getBytes("UTF-8")), Some(0L)),
      "allnull" -> ColStats('L', None, None, Some(10L)))))
    def m(f: Filter) = ManifestStats.mayMatch(0L, fs, None, f)

    assert(!m(EqualTo("k", 9L)) && m(EqualTo("k", 10L)) && m(EqualTo("k", 15L)))
    assert(!m(EqualTo("k", 21L)))
    assert(!m(GreaterThan("k", 20L)) && m(GreaterThanOrEqual("k", 20L)))
    assert(!m(LessThan("k", 10L)) && m(LessThanOrEqual("k", 10L)))
    assert(!m(In("k", Array(1L, 5L, 9L))) && m(In("k", Array(1L, 12L))))
    assert(!m(IsNull("k")) && m(IsNotNull("k")))
    assert(m(IsNull("allnull")) && !m(IsNotNull("allnull")))
    assert(!m(EqualTo("s", "aa")) && m(EqualTo("s", "cc")) && !m(EqualTo("s", "ee")))
    assert(!m(And(EqualTo("k", 15L), EqualTo("s", "ee"))))
    assert(m(Or(EqualTo("k", 99L), EqualTo("s", "cc"))))
    // unknown column / unsupported shape / missing stats: never prune
    assert(m(EqualTo("other", 1L)) && m(Not(EqualTo("k", 15L))))
    assert(ManifestStats.mayMatch(0L, None, None, EqualTo("k", 999L)))
    // int literal against a long-statted column (post-coercion widths)
    assert(!m(EqualTo("k", 9)) && m(EqualTo("k", 15)))
  }

  test("bucketOf matches the write path's pmod(xxhash64(k), buckets) exactly") {
    import spark.implicits._
    val expectLong = Seq(7L, 42L, 1000021L).toDF("k")
      .select(col("k"), pmod(xxhash64(col("k")), lit(8L)).as("b"))
      .as[(Long, Long)].collect().toMap
    for ((k, b) <- expectLong)
      assert(ManifestStats.bucketOf(k, 8).contains(b), s"long key $k")
    val expectStr = Seq("doc-1", "doc-2", "ü-unicode").toDF("k")
      .select(col("k"), pmod(xxhash64(col("k")), lit(8L)).as("b"))
      .as[(String, Long)].collect().toMap
    for ((k, b) <- expectStr)
      assert(ManifestStats.bucketOf(k, 8).contains(b), s"string key $k")
    // unsupported literal type declines rather than guessing
    assert(ManifestStats.bucketOf(3.14, 8).isEmpty)
  }

  // --------------------------------------------------------- end to end

  test("point lookup through the connector reads one bucket's files; rows match the full scan") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_skip1_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 8)
    sink.upsertBatch((1L to 400L).map(i => (i, i * 10.0, 0L)).toDF("id", "v", "seq"), "seq", 0L)
    sink.compact(spark) // one file per bucket
    val table = spark.read.format("graft-manifest").load(root)
    assert(scannedFiles(table) == 8, "uncompacted baseline: 8 bucket files")

    val hit = table.filter(col("id") === 123L)
    assert(scannedFiles(hit) == 1, "key equality must prune to the key's bucket")
    assert(hit.select("v").as[Double].collect().toSeq == Seq(1230.0))

    val multi = table.filter(col("id").isin(5L, 123L, 300L))
    assert(scannedFiles(multi) <= 3 && scannedFiles(multi) >= 1)
    assert(multi.count() == 3)

    // a filter on a NON-key column must not bucket-prune (hash-bucketed
    // values span every bucket; only stats could prune, and each bucket
    // here holds the full value range)
    assert(scannedFiles(table.filter(col("v") > 0.0)) == 8)
  }

  test("clustered compaction + range predicate: stats prune files, results match unpruned") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_skip2_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4)
    sink.upsertBatch((1L to 1000L).map(i => (i, i.toDouble, 0L)).toDF("id", "v", "seq"), "seq", 0L)
    sink.compactClustered(spark, Seq("v"), slices = 16)
    val table = spark.read.format("graft-manifest").load(root)
    val total = scannedFiles(table)
    assert(total >= 16, s"clustered rewrite should produce >= slices files, got $total")

    val band = table.filter(col("v") >= 100.0 && col("v") < 160.0)
    val scanned = scannedFiles(band)
    assert(scanned <= total / 4,
      s"a 6% band over a clustered layout must skip most files: $scanned of $total")
    assert(band.agg(sum("id")).as[Double].collect().head
      == (100L until 160L).sum.toDouble)

    // prune-to-zero: a predicate outside the table's range reads nothing
    val none = table.filter(col("v") > 1e9)
    assert(scannedFiles(none) == 0 && none.count() == 0)

    // time travel keeps the UNclustered v0 readable and unpruned-correct
    val v0 = spark.read.format("graft-manifest").option("versionAsOf", 0L).load(root)
    assert(v0.filter(col("v") >= 100.0 && col("v") < 160.0).count() == 60)
  }

  test("missing sidecar: reads stay correct with zero pruning; stats survive carried buckets") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_skip3_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4)
    sink.upsertBatch((1L to 100L).map(i => (i, i.toDouble, 0L)).toDF("id", "v", "seq"), "seq", 0L)
    sink.compact(spark)

    // merge touching ONE bucket: carried buckets keep their stats lines
    sink.upsertBatch(Seq((7L, 7000.0, 1L)).toDF("id", "v", "seq"), "seq", 2L)
    val stats = ManifestUpsertSink.loadStats(root,
      ManifestUpsertSink.snapshotManifest(root, None).version)
    val entries = ManifestUpsertSink.snapshotManifest(root, None).files
    assert(entries.forall(e => stats.contains(e.path)),
      "every snapshot file, carried or new, must keep a stats entry")

    // stats pruning: only the rewritten bucket's file can hold v > 5000
    val table = spark.read.format("graft-manifest").load(root)
    val hot = table.filter(col("v") > 5000.0)
    assert(scannedFiles(hot) == 1 && hot.count() == 1)

    // delete the sidecar: stats pruning off (same rows, full scan), but
    // BUCKET pruning survives — keyCol/buckets live in the manifest itself
    val v = ManifestUpsertSink.snapshotManifest(root, None).version
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "_manifest", s"v$v.stats"))
    val unpruned = spark.read.format("graft-manifest").load(root).filter(col("v") > 5000.0)
    assert(scannedFiles(unpruned) == entries.size, "no sidecar -> no stats pruning")
    assert(unpruned.count() == 1)
    val lookup = spark.read.format("graft-manifest").load(root).filter(col("id") === 9L)
    assert(scannedFiles(lookup) == 1 && lookup.count() == 1,
      "bucket pruning needs no sidecar")
  }

  test("z-order compaction: files bound BOTH dimensions; lexicographic bounds only its leading one") {
    import spark.implicits._
    // a 100x100 grid: every (x, y) cell once — geometry is exact
    val grid = (0L until 10000L).map(i => (i, i % 100L, i / 100L, 0L))
      .toDF("id", "x", "y", "seq")
    def build(f: ManifestUpsertSink => Unit): DataFrame = {
      val root = java.nio.file.Files.createTempDirectory("graft_skipz_").toString
      val sink = new ManifestUpsertSink(root, "id", buckets = 1)
      sink.upsertBatch(grid, "seq", 0L)
      f(sink)
      spark.read.format("graft-manifest").load(root)
    }
    val lex = build(_.compactClustered(spark, Seq("x"), slices = 64))
    val zed = build(_.compactZOrder(spark, Seq("x", "y"), slices = 64))
    val total = scannedFiles(zed)
    assert(total >= 32, s"expected ~64 slice files, got $total")

    def xBand(t: DataFrame) = t.filter(col("x") >= 10L && col("x") < 20L)
    def yBand(t: DataFrame) = t.filter(col("y") >= 10L && col("y") < 20L)
    def cell(t: DataFrame) = xBand(t).filter(col("y") >= 10L && col("y") < 20L)

    // lexicographic: x prunes hard, y prunes NOTHING (each file spans all y)
    assert(scannedFiles(xBand(lex)) <= scannedFiles(lex) / 4)
    assert(scannedFiles(yBand(lex)) == scannedFiles(lex),
      "an x-clustered layout cannot skip on y — the gap z-order closes")
    // z-order: both 1-D bands prune, and their intersection prunes hardest
    assert(scannedFiles(xBand(zed)) <= total / 2, s"x band: ${scannedFiles(xBand(zed))}/$total")
    assert(scannedFiles(yBand(zed)) <= total / 2, s"y band: ${scannedFiles(yBand(zed))}/$total")
    assert(scannedFiles(cell(zed)) <= total / 5, s"2-D cell: ${scannedFiles(cell(zed))}/$total")
    // pruning is sound: the 1% cell returns exactly its 100 grid points
    assert(cell(zed).count() == 100 && cell(lex).count() == 100)
    assert(cell(zed).agg(sum("id")).as[Long].collect().head
      == cell(lex).agg(sum("id")).as[Long].collect().head)
  }

  test("ANN index probe (q309's read shape): cid IN (...) reads only the probed slices' files") {
    import spark.implicits._
    // a synthetic index table: 4000 vectors over 8 centroids, clustered
    // by cid for serving — exactly how q309 lays out the posting lists
    val root = java.nio.file.Files.createTempDirectory("graft_skipann_").toString
    val sink = new ManifestUpsertSink(root, "vec_id", buckets = 4)
    sink.upsertBatch((1L to 4000L).map(i => (i, (i % 8).toInt, i * 0.001, 0L))
      .toDF("vec_id", "cid", "csim", "seq"), "seq", 0L)
    // slices ≈ buckets × centroids: each file covers ~one (bucket, cid)
    // combo, the granularity a posting-list probe wants
    sink.compactClustered(spark, Seq("cid"), slices = 32)
    val table = spark.read.format("graft-manifest").load(root)
    val total = scannedFiles(table)
    assert(total >= 16)
    // nprobe=2 probe: the serving read must NOT touch the other 6
    // centroids' files — the index-lookup-vs-table-scan distinction
    val probe = table.filter(col("cid").isin(2, 5))
    val scanned = scannedFiles(probe)
    assert(scanned <= total / 2,
      s"a 2-of-8-centroid probe must prune most slice files: $scanned of $total")
    assert(probe.count() == 1000, "pruning must not drop candidate rows")
    assert(probe.agg(sum("vec_id")).as[Long].head()
      == (1L to 4000L).filter(i => i % 8 == 2 || i % 8 == 5).sum)
  }

  test("z-order boundary pre-pass is ONE scan regardless of dimension count") {
    import spark.implicits._
    val df = (1L to 20000L).map(i => (i % 97, (i * 7) % 89, i % 53, (i * 13) % 31))
      .toDF("a", "b", "c", "d")
    val sc = spark.sparkContext
    def jobsOf(group: String)(body: => Map[String, Seq[Double]]): (Int, Map[String, Seq[Double]]) = {
      sc.setJobGroup(group, group)
      val r = try body finally sc.clearJobGroup()
      (sc.statusTracker.getJobIdsForGroup(group).length, r)
    }
    // the pin: job count must NOT scale with dimension count (AQE may
    // split one query into a couple of stage-jobs — that constant is
    // fine; a per-column scan would multiply it by 4)
    val (j1, single) = jobsOf("zb_one")(ManifestUpsertSink.zBoundaries(df, Seq("a")))
    val (j4, fused) = jobsOf("zb_four")(ManifestUpsertSink.zBoundaries(df, Seq("a", "b", "c", "d")))
    assert(j4 == j1, s"4 z-dimensions cost $j4 jobs vs $j1 for one — the pre-pass is scanning per column")
    // fused boundaries are the same histograms a per-column pass computes
    assert(fused("a") == single("a"), "fused pre-pass must not change the boundaries")
    for (c <- Seq("b", "c", "d"))
      assert(fused(c) == ManifestUpsertSink.zBoundaries(df, Seq(c))(c),
        s"fused pre-pass must not change column $c's boundaries")
    assert(fused("a").size == 255 && fused("a") == fused("a").sorted)
  }

  test("executor-side stats collection is byte-identical to the driver path") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_statsd_").toString
    (1L to 5000L).map(i => (i, i * 0.5, s"s$i", if (i % 7 == 0) None else Some(i)))
      .toDF("k", "v", "s", "opt")
      .repartition(ManifestStats.DistributedCollectThreshold + 16)
      .write.mode("overwrite").parquet(dir)
    val paths = new java.io.File(dir).listFiles()
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    assert(paths.size >= ManifestStats.DistributedCollectThreshold,
      "fixture must be big enough to exercise the distributed path")
    val driver = ManifestStats.collect(paths)
    val dist = ManifestStats.collectDistributed(spark, paths)
    assert(dist.keySet == driver.keySet)
    assert(ManifestStats.encode(dist) == ManifestStats.encode(driver),
      "executor fan-out must produce the exact sidecar bytes the driver path does")
    assert(ManifestStats.encode(ManifestStats.collectAuto(paths))
      == ManifestStats.encode(driver))
  }

  test("key-column mismatch fails loudly, like a bucket-count mismatch") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_skip4_").toString
    new ManifestUpsertSink(root, "id", buckets = 4)
      .upsertBatch(Seq((1L, 1L)).toDF("id", "seq"), "seq", 0L)
    val ex = intercept[IllegalStateException] {
      new ManifestUpsertSink(root, "seq", buckets = 4)
        .upsertBatch(Seq((2L, 2L)).toDF("id", "seq"), "seq", 1L)
    }
    assert(ex.getMessage.contains("keyCol"))
  }

  // ------------------------------------------- planner statistics + DPP

  test("scan reports post-pruning statistics: true rowCount/size, and a point lookup reports the pruned size") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val root = java.nio.file.Files.createTempDirectory("graft_repstats_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 8)
    sink.upsertBatch((1L to 2000L).map(i => (i, s"payload-$i", 0L)).toDF("id", "p", "seq"),
      "seq", 0L)
    def scanStats(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.stats
    }.head
    val full = spark.read.format("graft-manifest").load(root)
    val st = scanStats(full)
    assert(st.rowCount.contains(BigInt(2000)),
      s"manifest sidecar row counts must reach the planner, got ${st.rowCount}")
    // the sum of real parquet file sizes — NOT the unsized-v2 default
    // (spark.sql.defaultSizeInBytes = Long.Max), which is what blocks
    // auto-broadcast for every unsized source
    assert(st.sizeInBytes > 0 && st.sizeInBytes < 100L * 1024 * 1024,
      s"sizeInBytes must be the files' true size, got ${st.sizeInBytes}")
    // a pushed point predicate prunes to one bucket BEFORE stats are
    // reported: the planner sees the pruned size (so even a huge table's
    // point-lookup side can broadcast)
    val point = scanStats(full.filter(col("id") === 7L))
    assert(point.sizeInBytes < st.sizeInBytes && point.rowCount.get < st.rowCount.get,
      s"point lookup must report post-pruning stats: $point vs full $st")
  }

  test("small lake dim AUTO-broadcasts with no hint (statics, pre-AQE plan)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val factRoot = java.nio.file.Files.createTempDirectory("graft_bjf_").toString
    val dimRoot = java.nio.file.Files.createTempDirectory("graft_bjd_").toString
    new ManifestUpsertSink(factRoot, "id", buckets = 8).upsertBatch(
      (1L to 5000L).map(i => (i, i % 50, i * 1.5, 0L)).toDF("id", "dim_id", "v", "seq"),
      "seq", 0L)
    new ManifestUpsertSink(dimRoot, "dim_id", buckets = 2).upsertBatch(
      (0L until 50L).map(i => (i, s"dim-$i", 0L)).toDF("dim_id", "name", "seq"),
      "seq", 0L)
    val fact = spark.read.format("graft-manifest").load(factRoot)
    val dim = spark.read.format("graft-manifest").load(dimRoot)
    val joined = fact.join(dim, "dim_id").groupBy("name").agg(sum("v").as("sv"))
    // sparkPlan = the STATIC plan, before AQE can rescue a bad estimate
    // from runtime sizes — this pins that estimateStatistics alone is
    // enough to pick the broadcast join
    val bhj = joined.queryExecution.sparkPlan.collect {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty,
      s"a 50-row lake dim must auto-broadcast statically:\n${joined.queryExecution.sparkPlan}")
    assert(joined.count() == 50L)
  }

  test("metadata-only aggregates: COUNT/MIN/MAX answer from the sidecar as a LocalTableScan; filters/floats decline") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_aggpd_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 4)
    sink.upsertBatch((1L to 500L).map(i =>
        (i, s"s$i", i * 0.5, java.sql.Date.valueOf("2024-01-01").toLocalDate.plusDays(i % 30),
          if (i % 5 == 0) None else Some(i), 0L))
      .map(t => (t._1, t._2, t._3, java.sql.Date.valueOf(t._4), t._5, t._6))
      .toDF("id", "s", "v", "d", "opt", "seq"), "seq", 0L)
    val t = spark.read.format("graft-manifest").load(root)
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // COUNT(*), COUNT(col with nulls), MIN/MAX over long/string/date: one
    // driver-local row, no parquet scan in the plan
    val agg = t.agg(count(lit(1)).as("n"), count(col("opt")).as("nn"),
      min(col("id")).as("mn"), max(col("id")).as("mx"),
      min(col("s")).as("smn"), max(col("d")).as("dmx"))
    val p = planOf(agg)
    assert(p.contains("LocalTableScan") && !p.contains("ParquetScan"),
      s"sidecar-covered aggregate must not open data files:\n${p.take(1500)}")
    val r = agg.head()
    assert(r.getLong(0) == 500L && r.getLong(1) == 400L)
    assert(r.getLong(2) == 1L && r.getLong(3) == 500L)
    assert(r.getString(4) == "s1" && r.getDate(5).toString == "2024-01-30")
    // a FILTER declines the push (sidecar can't subtotal) — the ordinary
    // pruning scan answers, correctly
    val filtered = t.filter(col("id") <= 10L).agg(count(lit(1)))
    assert(planOf(filtered).contains("Scan") && filtered.head().getLong(0) == 10L)
    // floating-point MIN declines (±0.0-widened bounds are inexact) but
    // still answers right through the data path
    val dmin = t.agg(min(col("v")))
    assert(!planOf(dmin).contains("LocalTableScan"))
    assert(dmin.head().getDouble(0) == 0.5)
    // GROUP BY declines
    assert(t.groupBy(col("id") % 2).count().count() == 2)
  }

  test("limit pushdown: an unordered LIMIT keeps only the file prefix covering n rows; filters decline") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_limpd_").toString
    val sink = new ManifestUpsertSink(root, "id", buckets = 8)
    sink.upsertBatch((1L to 800L).map(i => (i, s"p$i", 0L)).toDF("id", "p", "seq"), "seq", 0L)
    val t = spark.read.format("graft-manifest").load(root)
    val total = scannedFiles(t)
    assert(total >= 8, s"fixture should span buckets, got $total files")
    val lim = t.limit(5)
    assert(scannedFiles(lim) < total,
      "LIMIT must prune the file list to a covering prefix")
    assert(lim.count() == 5L)
    // a pushed data filter makes per-file matching counts unknowable:
    // the limit prune declines and the result stays exact
    val filtered = t.filter(col("id") > 750L).limit(5)
    assert(filtered.count() == 5L)
    assert(filtered.select(col("id")).as[Long].collect().forall(_ > 750L))
    // ordered limit (TopN) never reaches the file prune — exact answer
    assert(t.orderBy(col("id")).limit(3).select("id").as[Long].collect().toSeq
      == Seq(1L, 2L, 3L))
  }

  test("storage-partitioned join: same-layout lake tables join with ZERO shuffle under v2 bucketing") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_spj_").toString
    val cat = s"graft_spj_${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"""CREATE TABLE $cat.a (id BIGINT, v DOUBLE, seq BIGINT)
      TBLPROPERTIES ('keyCol'='id', 'orderCol'='seq', 'buckets'='8')""")
    spark.sql(s"""CREATE TABLE $cat.b (id BIGINT, w DOUBLE, seq BIGINT)
      TBLPROPERTIES ('keyCol'='id', 'orderCol'='seq', 'buckets'='8')""")
    (1L to 2000L).map(i => (i, i * 1.0, 0L)).toDF("id", "v", "seq")
      .createOrReplaceTempView("spj_a")
    (1L to 2000L).map(i => (i, i * 2.0, 0L)).toDF("id", "w", "seq")
      .createOrReplaceTempView("spj_b")
    spark.sql(s"INSERT INTO $cat.a SELECT * FROM spj_a")
    spark.sql(s"INSERT INTO $cat.b SELECT * FROM spj_b")
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      graft.sources.ManifestSource.PreserveGroupingConf,
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // the SOURCE-side opt-in: without it keyed scans keep Spark's
      // size-based split planning (full parallelism, no SPJ)
      spark.conf.set(graft.sources.ManifestSource.PreserveGroupingConf, "true")
      // kill auto-broadcast (the reported stats would otherwise pick a
      // BHJ and hide the shuffle question entirely)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.sql(
        s"SELECT sum(a.v * b.w) AS s FROM $cat.a a JOIN $cat.b b ON a.id = b.id")
      assert(j.head().getDouble(0) ==
        (1L to 2000L).map(i => i * 1.0 * i * 2.0).sum)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a shuffle-class join:\n${plan.take(1200)}")
      // the one legitimate Exchange is the final SinglePartition gather
      // for the global sum; the JOIN must see no hash repartitioning —
      // each task reads both sides' files of one bucket directly
      assert(!plan.contains("Exchange hashpartitioning"),
        s"same-layout lake tables must join WITHOUT a shuffle (storage-partitioned join):\n${plan.take(2000)}")

      // ---- ordering report: after compact() each bucket is ONE
      // key-sorted file, the manifest stamps sortedBy, and the scan
      // reports the key ordering (SupportsReportOrdering) — the SMJ then
      // plans with NO per-task SortExec on either side. Before the
      // compact, multi-file buckets must NOT report (two sorted files
      // concatenated are not sorted), so the join above legitimately
      // sorted.
      assert(ManifestUpsertSink.latestManifest(s"$root/a").get.sortedBy
        == Some("id"), "fresh full writes stamp sortedBy")
      spark.sql(s"CALL $cat.system.compact('a')")
      spark.sql(s"CALL $cat.system.compact('b')")
      val j2 = spark.sql(
        s"SELECT sum(a.v * b.w) AS s FROM $cat.a a JOIN $cat.b b ON a.id = b.id")
      assert(j2.head().getDouble(0) ==
        (1L to 2000L).map(i => i * 1.0 * i * 2.0).sum)
      val plan2 = j2.queryExecution.executedPlan.toString
      assert(plan2.contains("SortMergeJoin"), plan2.take(1200))
      assert(!plan2.contains("Exchange hashpartitioning"), plan2.take(2000))
      assert(!plan2.contains("Sort ["),
        s"a compacted key-sorted SPJ join must plan with NO SortExec:\n${plan2.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("storage-partitioned join over deletion vectors: dv'd same-layout tables still join with ZERO shuffle") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_spjdv_").toString
    val cat = s"graft_spjdv_${System.nanoTime()}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.ManifestCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    for ((t, c) <- Seq("a" -> "v", "b" -> "w"))
      spark.sql(s"""CREATE TABLE $cat.$t (id BIGINT, $c DOUBLE, seq BIGINT)
        TBLPROPERTIES ('keyCol'='id', 'orderCol'='seq', 'buckets'='8',
          'mergeOnRead'='true')""")
    (1L to 2000L).map(i => (i, i * 1.0, 0L)).toDF("id", "v", "seq")
      .createOrReplaceTempView("spjdv_a")
    (1L to 2000L).map(i => (i, i * 2.0, 0L)).toDF("id", "w", "seq")
      .createOrReplaceTempView("spjdv_b")
    spark.sql(s"INSERT INTO $cat.a SELECT * FROM spjdv_a")
    spark.sql(s"INSERT INTO $cat.b SELECT * FROM spjdv_b")
    // a merge-on-read DELETE: one side now reads through the dv fold
    spark.sql(s"DELETE FROM $cat.a WHERE id IN (7, 13)")
    assert(ManifestUpsertSink.latestManifest(s"$root/a").get.dvs.nonEmpty)
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      graft.sources.ManifestSource.PreserveGroupingConf,
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    def spj(on: Boolean): Unit =
      spark.conf.set(graft.sources.ManifestSource.PreserveGroupingConf, on.toString)
    def folded(df: DataFrame): Seq[Boolean] = df.queryExecution.sparkPlan.collect {
      case b: BatchScanExec =>
        b.scan.asInstanceOf[graft.sources.ManifestSource.ManifestScan].folded
    }
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sumSql = s"SELECT sum(a.v * b.w) AS s FROM $cat.a a JOIN $cat.b b ON a.id = b.id"
      spj(on = false)
      val off = spark.sql(sumSql).head().getDouble(0)
      assert(off == 5337333564.0, s"SPJ-off sum $off")
      spj(on = true)
      val j = spark.sql(sumSql)
      assert(folded(j).sorted == Seq(false, true), "one side must plan the dv fold")
      assert(j.head().getDouble(0) == off)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a shuffle-class join:\n${plan.take(1200)}")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"a dv'd table must keep the storage-partitioned join:\n${plan.take(2000)}")

      // ---- after compact() each bucket is one key-sorted file; a MoR
      // delete on both sides then keeps the ordering report (a dv drops
      // rows of a sorted file, never reorders the rest): no shuffle and no
      // per-task sort, rows equal to the SPJ-off plan
      spark.sql(s"CALL $cat.system.compact('a')")
      spark.sql(s"CALL $cat.system.compact('b')")
      spark.sql(s"DELETE FROM $cat.a WHERE id IN (100, 1001)")
      spark.sql(s"DELETE FROM $cat.b WHERE id IN (5, 1001)")
      val rowSql = s"SELECT a.id, a.v, b.w FROM $cat.a a JOIN $cat.b b ON a.id = b.id"
      spj(on = false)
      val offRows = spark.sql(rowSql).as[(Long, Double, Double)].collect().sorted
      assert(offRows.length == 1995 && !offRows.exists(r => Set(5L, 7L, 100L, 1001L)(r._1)))
      spj(on = true)
      val j2 = spark.sql(rowSql)
      assert(folded(j2) == Seq(true, true), "both sides must plan the dv fold")
      assert(j2.as[(Long, Double, Double)].collect().sorted.toSeq == offRows.toSeq)
      val plan2 = j2.queryExecution.executedPlan.toString
      assert(plan2.contains("SortMergeJoin"), plan2.take(1200))
      assert(!plan2.contains("Exchange hashpartitioning"), plan2.take(2000))
      assert(!plan2.contains("Sort ["),
        s"a compacted, dv'd key-sorted SPJ join must plan with NO SortExec:\n${plan2.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime filtering: a join-time IN-set on the fact's key drops non-matching buckets' files") {
    import spark.implicits._
    import graft.sources.ManifestSource.RuntimeFilterProbe
    val factRoot = java.nio.file.Files.createTempDirectory("graft_dppf_").toString
    val dimRoot = java.nio.file.Files.createTempDirectory("graft_dppd_").toString
    // per-cust state table KEYED (and so bucketed) by cust — the star
    // join's runtime filter arrives on the bucket key
    new ManifestUpsertSink(factRoot, "cust", buckets = 32).upsertBatch(
      (1L to 4000L).map(i => (i, i * 2.0, 0L)).toDF("cust", "v", "seq"),
      "seq", 0L)
    new ManifestUpsertSink(dimRoot, "cust", buckets = 2).upsertBatch(
      (1L to 4000L).map(i => (i, s"c-$i", i % 800, 0L)).toDF("cust", "name", "seg", "seq"),
      "seq", 0L)
    val fact = spark.read.format("graft-manifest").load(factRoot)
    // selective dim predicate: 5 of 4000 keys → a handful of buckets
    val dim = spark.read.format("graft-manifest").load(dimRoot).filter(col("seg") === 7)
    RuntimeFilterProbe.reset()
    val joined = fact.join(dim, "cust").agg(count(lit(1)).as("n"), sum("v").as("sv"))
    val row = joined.head()
    val (_, before, after) = RuntimeFilterProbe.last.getOrElse(
      fail("no runtime filter reached the manifest scan — DPP did not inject"))
    assert(after < before,
      s"the runtime IN-set must drop non-matching buckets' files ($after vs $before)")
    // correctness: equals the same join computed from plain frames
    val factDf = (1L to 4000L).map(i => (i, i * 2.0)).toDF("cust", "v")
    val dimDf = (1L to 4000L).map(i => (i, s"c-$i", i % 800)).toDF("cust", "name", "seg")
      .filter(col("seg") === 7)
    val want = factDf.join(dimDf, "cust").agg(count(lit(1)), sum("v")).head()
    assert(row.getLong(0) == want.getLong(0) && row.getDouble(1) == want.getDouble(1))
  }
}
