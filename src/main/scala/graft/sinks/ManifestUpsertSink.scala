package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** K3's semantics on an object store: last-write-wins MERGE into
  * bucket-partitioned parquet under a versioned manifest log — the
  * Delta-style lakehouse upsert without the dependency, closing the gap
  * between the JDBC sink (row store, fine for dimension-sized state) and
  * the 100-TB reality where mutable keyed state lives as parquet on
  * object storage.
  *
  * Layout under `root`:
  * {{{
  *   data/v<N>-<tag>/__bucket=<b>/part-*.parquet  (copy-on-write data files;
  *                                                 <tag> makes concurrent
  *                                                 writers' dirs disjoint)
  *   _changes/v<N>/part-*.parquet                 (per-merge change feed,
  *                                                 staged under _stage/<tag>
  *                                                 until its commit wins —
  *                                                 subscribers tailing the
  *                                                 _changes glob can never
  *                                                 glimpse a stage)
  *   _manifest/v<N>.manifest                      (committed versions)
  * }}}
  *
  * A manifest version is the table: a list of (bucket → file) entries
  * plus the streaming batch id that produced it and the table's committed
  * BUCKET COUNT. Readers list the manifest dir, take the max committed
  * version, and read exactly its files — data files are immutable once a
  * manifest references them, so reads are snapshot-consistent without
  * locking. The bucket count is part of the table, not the writer: a sink
  * opened with a different `buckets` value would silently mis-route keys
  * (a replaced key could survive in a bucket the new bucketing considers
  * untouched), so merge and compaction fail loudly on a mismatch.
  *
  * MERGE shape (the part that must survive 100 TB):
  *  - rows hash into `buckets` stable partitions by key
  *    (`pmod(xxhash64(key), buckets)`);
  *  - an incoming batch REWRITES ONLY THE BUCKETS IT TOUCHES — survivors
  *    of a touched bucket (current rows whose key is not replaced) union
  *    the deduped incoming rows and write as that bucket's new files;
  *    untouched buckets carry their file entries forward verbatim, zero
  *    I/O. Merge cost is ∝ touched-bucket bytes, never table bytes —
  *    the copy-on-write contract every lakehouse MERGE lives by. Bucket
  *    count is the granularity knob (more buckets → finer rewrites,
  *    more files; compaction is a rewrite-all-buckets merge of an empty
  *    batch away).
  *  - within a batch, LWW per key via [[JdbcUpsertSink.lastWriteWins]]
  *    (the one K3 dedup — JDBC and manifest sinks cannot drift).
  *  - each merge also emits a ROW-LEVEL CHANGE FEED under `_changes/v<N>`
  *    — (key, change ∈ inserted|updated, old/new payload hash, old/new
  *    BEFORE/AFTER row image as canonical JSON — the Delta CDF contract),
  *    computed from the touched-bucket rows the merge reads anyway (cost
  *    stays ∝ touched bytes). Downstream CDC consumers read the feed
  *    directly ([[ManifestUpsertSink.readChanges]]) or subscribe to it
  *    ([[graft.streaming.EventStream.changesStream]]) instead of diffing
  *    snapshots — O(changed rows) per question, not O(table) — and the
  *    images let them maintain aggregates differentially (q301).
  *
  * ONE ROW-LEVEL STATEMENT PIPELINE: upsert, delete and the mixed
  * single-commit apply are one private pipeline ([[statement]]) that
  * guards and classifies once, then applies in one of two shapes. The
  * COPY-ON-WRITE shape rewrites the touched buckets as above. The
  * MERGE-ON-READ shape ([[upsertMergeOnRead]], [[deleteKeysMergeOnRead]],
  * [[applyDeltaMergeOnRead]]) leaves every prior data file
  * byte-identical: new row images append as new files and a per-bucket
  * deleted-KEY sidecar (a deletion vector, the Iceberg-v2
  * equality-delete shape) retires the replaced and deleted live rows.
  * Every read folds the dvs as a broadcast anti-join, masking a key only
  * in files older than the dv (commit-sequence provenance, so a
  * replacement row written with its dv survives), and the next bucket
  * rewrite materializes them. Both shapes write the same change feed,
  * and a statement that changes no row commits no version in either.
  *
  * Exactly-once over an at-least-once source: the manifest records the
  * micro-batch id; replaying a committed batch (foreachBatch redelivery
  * after a crash-restart) is a NO-OP — same contract the JDBC sink gets
  * from idempotent delete+insert, here from the version log. Commit is
  * an atomic rename of a temp manifest into `v<N>.manifest` with
  * create-new semantics, and a writer that LOSES the rename race
  * REBASES instead of dying ([[commitRebasing]]): it re-reads the
  * winner chain, carries the winners' entries for the buckets they
  * data-changed, keeps its own files for the rest, and retries at the
  * next version — so an ingest stream and a compactor run concurrently
  * against one table, and two merges conflict only when they change the
  * SAME bucket's rows (then the loser aborts loudly; its batch must be
  * recomputed from the new snapshot). Each write attempt stages into
  * its own uniquely-tagged data dir, so the data plane has no shared
  * mutable paths at all; the race is decided entirely by the manifest
  * rename. This is Delta's optimistic-concurrency model with bucket
  * granularity standing in for file-level conflict detection.
  *
  * Storage seam: all manifest-log control-plane I/O goes through
  * [[TableStore]] — java.nio for scheme-less local roots, the Hadoop
  * `FileSystem` API for `file:`/`hdfs:`/`s3a:` URIs — so the same commit
  * protocol runs against a real object store unchanged; data files move
  * through Spark's parquet reader/writer, which speaks Hadoop paths
  * natively.
  */
class ManifestUpsertSink(root: String, keyCol: String, buckets: Int = 16,
    partitionCol: Option[String] = None)
    extends Serializable {
  import ManifestUpsertSink._

  /** COMPOSITE KEYS: `keyCol` may be a comma-separated column list
    * ("tenant_id,entity_id") — real tables key on tuples, and forcing a
    * pre-concatenated synthetic column would cost an extra stored column
    * plus a codegen barrier on every merge. The spec string is the
    * table's committed key identity verbatim (manifest header, epoch
    * guards, connector options, catalog TBLPROPERTIES all speak it
    * unchanged); everything row-level — bucket hashing, LWW, joins, the
    * CDC feed, delete routing, bucket pruning — operates on the
    * component columns. Component order matters (it feeds the hash):
    * "a,b" and "b,a" are different epochs, like any key change. */
  private val keyCols: Seq[String] = ManifestUpsertSink.splitKeyCols(keyCol)

  private val store: TableStore = TableStore.forPath(root)

  /** The write-path bucket assignment — one xxhash64 over ALL key
    * components (seed 42, the Column-function default), matching
    * [[ManifestStats.bucketOf]] exactly; an epoch rewrite
    * ([[recluster]]) hashes under the new pair. */
  private def bucketExpr: Column = bucketOf(keyCols, buckets)

  private def bucketOf(keys: Seq[String], n: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(n.toLong))

  private def keyColumns: Seq[Column] = keyCols.map(col)

  /** While metadata-only evolution is live, an incoming batch must not
    * carry a RETIRED name: a rename SOURCE would be coalesced into the
    * rename's target by every read's fold (silent nulls), and a
    * logically-DROPPED name would resurrect the pre-drop bytes still
    * sitting in old files the moment the fold stops dropping it — the
    * same reuse hazards the DDL verbs refuse, reachable with no DDL at
    * all. compact() materializes the evolution and frees the names. */
  private def requireNoRetiredColumns(cur: Option[Manifest], batchCols: Seq[String]): Unit =
    for (m <- cur if m.renames.nonEmpty || m.droppedCols.nonEmpty) {
      val retired = m.renames.map(_._1).toSet ++ m.droppedCols
      val resurrected = retired & batchCols.toSet
      require(resurrected.isEmpty,
        s"batch carries column(s) ${resurrected.toSeq.sorted.mkString(", ")} retired by a " +
          "live rename mapping or DROP COLUMN — compact() to materialize the evolution first")
    }

  /** DATE PARTITIONING (the reference's own K2 layout, core.clj:47-50,
    * lifted to the lake): when `partitionCol` names a date-valued column,
    * every data file additionally lands under a `__pdate=yyyy-MM-dd`
    * directory derived from it — so at 100 TB, time-range scans prune
    * whole partitions through the connector BY CONSTRUCTION (not by the
    * advisory stats sidecar, which merges without clustering can't
    * bound), and retention is a manifest operation
    * ([[dropPartitionsBefore]]) instead of a full-table delete. The
    * partition column is part of the committed LAYOUT, like buckets:
    * header `partCol=`, mismatching writers fail loudly. Rewrite
    * granularity stays the bucket (a replaced key's old row may live in
    * any date), so merges cost what they always did; the partition buys
    * reads and retention, which dominate at scale. */
  private val PdateCol = ManifestUpsertSink.PdateCol

  /** MERGE a micro-batch, copy-on-write: LWW-dedupe on `orderCol`
    * within the batch, replace current rows sharing a key, append the
    * rest, rewriting only the touched buckets ([[statement]]). `batchId`
    * is the replay guard — a batch id already committed is skipped.
    * [[ManifestUpsertSink.AdHocBatch]] marks a write OUTSIDE the
    * streaming sequence (a backfill save(), a SQL INSERT/DELETE): it
    * bypasses the guard and LEAVES the committed batch id untouched,
    * exactly as compactions do — synthesizing "next" ids here would
    * collide with the stream's own future micro-batch ids and silently
    * swallow them as replays. */
  def upsertBatch(batch: DataFrame, orderCol: String, batchId: Long): Unit =
    statement(Some(batch), None, orderCol, batchId, morCap = None)

  /** DELETE by key, copy-on-write — the third CDC verb (upsert covers
    * insert/update): remove every row whose key appears in `keys`,
    * rewriting only the touched buckets and recording a `deleted` feed
    * row with the BEFORE image per key that actually existed, so IVM
    * consumers subtract departures exactly as they add arrivals. A
    * bucket whose rows all die simply stops appearing in the manifest. */
  def deleteKeys(keys: DataFrame, batchId: Long): Unit =
    statement(None, Some(keys), "", batchId, morCap = None)

  /** DELETE by key, merge-on-read — the deletion-vector verb: the
    * touched buckets' data files stay BYTE-IDENTICAL and the commit is a
    * manifest edit plus a small parquet of the deleted key tuples (the
    * Iceberg-v2 equality-delete shape), O(keys) instead of O(bucket
    * bytes) per statement. Every read surface folds the sidecar
    * ([[ManifestUpsertSink.applyDv]]); the next rewrite of a bucket
    * materializes its dvs. Feed contract identical to [[deleteKeys]];
    * `maxDvRowsPerBucket` bounds the dv debt (see [[statement]]). */
  def deleteKeysMergeOnRead(keys: DataFrame, batchId: Long,
      maxDvRowsPerBucket: Long = DefaultDvMaxRowsPerBucket): Unit =
    statement(None, Some(keys), "", batchId, Some(maxDvRowsPerBucket))

  /** MERGE a micro-batch, merge-on-read: the batch's rows APPEND as new
    * data files and a deletion vector retires the keys that already
    * existed, leaving every prior data file byte-identical — a 10-row
    * update costs O(10 rows + key sidecar), not O(touched bucket bytes).
    * Feed contract identical to [[upsertBatch]]. */
  def upsertMergeOnRead(batch: DataFrame, orderCol: String, batchId: Long,
      maxDvRowsPerBucket: Long = DefaultDvMaxRowsPerBucket): Unit =
    statement(Some(batch), None, orderCol, batchId, Some(maxDvRowsPerBucket))

  /** SINGLE-COMMIT row-level apply, copy-on-write: MERGE `batch` and
    * DELETE `delKeys` as ONE committed version with ONE change feed —
    * the atomicity a SQL statement needs. A key-moving `UPDATE t SET
    * key = key + 1` (or a MERGE mixing WHEN MATCHED UPDATE/DELETE)
    * produces upserts at new keys AND deletes of vacated old keys; as
    * two commits, a crash or a reader between them would see the
    * statement half-applied. A key BOTH upserted and deleted is an
    * UPSERT. A schema-less `batch` (a SQL DELETE's delta carries no row
    * images) makes a pure delete. */
  def applyDelta(batch: DataFrame, delKeys: DataFrame, orderCol: String,
      batchId: Long): Unit =
    statement(rowImages(batch), Some(delKeys), orderCol, batchId, morCap = None)

  /** [[applyDelta]], merge-on-read: new row images append and ONE
    * deletion-vector generation retires every replaced, deleted and
    * moved-away live instance at the commit's sequence. */
  def applyDeltaMergeOnRead(batch: DataFrame, delKeys: DataFrame,
      orderCol: String, batchId: Long,
      maxDvRowsPerBucket: Long = DefaultDvMaxRowsPerBucket): Unit =
    statement(rowImages(batch), Some(delKeys), orderCol, batchId,
      Some(maxDvRowsPerBucket))

  private def rowImages(batch: DataFrame): Option[DataFrame] =
    Some(batch).filter(_.columns.nonEmpty)

  /** THE row-level statement: every write verb above is this pipeline
    * with a side absent (None — never an empty frame that would cost a
    * collect) and/or a merge-on-read dv cap.
    *
    *  1. Guards, once: replay (`batchId`), the committed bucket/key/
    *     partition layout, retired column names in the upserts.
    *  2. Classify each present side once ([[classify]]): the upserts'
    *     LWW frame, the delete keys minus the upserted ones, each with
    *     its bucket column. A side whose plan estimate fits the
    *     broadcast threshold is collected once in one partition (no
    *     exchange) and re-read as a driver-local relation by every later
    *     plan; a larger side stays lazy behind one touched-bucket
    *     collect. Either way the touched set comes back and null keys
    *     are refused before anything is written. Then one `readLogical`
    *     of the touched buckets and one combined change feed
    *     — upserts classify inserted/updated against the current rows,
    *     deletes record only keys that EXIST, with BEFORE/AFTER images
    *     (the Delta CDF contract). The feed is staged OUTSIDE `_changes/`
    *     (a tailing file source lists that glob continuously) and renamed
    *     to its FINAL version post-commit, so a crashed writer's stage is
    *     never visible. Its write is OBSERVED: the row count and the
    *     non-`inserted` count come back with the write's own job. Zero
    *     rows means the statement changes nothing: the stage is dropped
    *     and no version commits, in both modes.
    *  3. Apply, COPY-ON-WRITE (`morCap = None`): each touched bucket's
    *     survivors — current rows minus replaced and deleted keys — union
    *     the new row images and replace the bucket's files; the rewrite
    *     read-folds and so materializes the bucket's dvs, and, being
    *     table-sized, keeps its rebalance. Or MERGE-ON-READ
    *     (`morCap = Some(cap)`): the new row images APPEND and one dv
    *     generation lists every retired LIVE instance (the feed's
    *     non-`inserted` keys, read back from the stage), so prior data
    *     files stay byte-identical. A driver-local statement appends its
    *     one partition as is and derives the dv in one partition, with no
    *     shuffle on the batch side. Soundness comes from
    *     commit-sequence provenance: the read fold masks a dv'd key only
    *     in files with `file.seq < dv.seq`, so the replacement row
    *     written at the dv's own sequence survives. The dv must hold
    *     exactly the observed non-inserted count, or the statement fails
    *     with nothing committed — COUNT = Σfile rows − Σdv rows depends
    *     on it. A statement that would push a bucket's dv rows past `cap`
    *     re-runs as copy-on-write, which materializes the backlog; the
    *     cap keeps the read-side fold a broadcast.
    *  4. One [[commitRebasing]] and [[foldColStats]]. */
  private def statement(upserts: Option[DataFrame], deletes: Option[DataFrame],
      orderCol: String, batchId: Long, morCap: Option[Long]): Unit = {
    val cur = latestManifest(root, store)
    if (upserts.isEmpty && cur.isEmpty) return // delete on an empty table
    healFeed(cur)
    if (batchId != AdHocBatch && cur.exists(_.batchId >= batchId))
      return // replayed batch: no-op
    requireSameBuckets(cur)
    upserts.foreach(u => requireNoRetiredColumns(cur, u.columns))
    val spark = upserts.orElse(deletes).get.sparkSession
    val version = cur.map(_.version + 1).getOrElse(0L)
    val tag = newTag()
    // A lazy side is deliberately NOT persisted, though three plans read
    // it: MEASURED at the bench's 5k-row micro-batches, a persist made a
    // 10-commit merge loop 16 s → 52-67 s; a caller merging truly large
    // batches can persist before handing the frame over. A side small
    // enough to broadcast ([[classify]]) is collected once instead and
    // re-read as a local relation: left lazy, its LWW window re-plans as a
    // shuffle in the feed write and twice in the survivor write, an AQE
    // job each. MEASURED on 4 cores: a 5-row copy-on-write upsert 10 → 6
    // Spark jobs, merge-on-read 10 → 5, a mixed statement 20 → 9
    // (ManifestVerbJobsSpec), and lake_rw's paired throughput ×1.39. A
    // side that touched no bucket holds no row and drops out here.
    val upSide = upserts.flatMap(b => classify(b,
      JdbcUpsertSink.lastWriteWins(_, keyCol, col(orderCol)).withColumn(BucketCol, bucketExpr),
      // probed on the RAW batch keys: LWW never changes the key set, and
      // pre-window probing skips a full sort shuffle of the batch
      probe = Some(b.select(keyColumns: _*).withColumn(BucketCol, bucketExpr))))
    val ups = upSide.map(_.rows)
    // deletes of keys re-occupied by an upsert resolve as upserts
    val delSide = deletes.flatMap(classify(_, { d =>
      val keys = d.select(keyColumns: _*).distinct()
      ups.fold(keys)(u => keys.join(u.select(keyColumns: _*), keyCols, "left_anti"))
        .withColumn(BucketCol, bucketExpr)
    }))
    val dels = delSide.map(_.rows)
    val touchedUps = upSide.fold(Set.empty[Long])(_.touched)
    val touched = touchedUps ++ delSide.fold(Set.empty[Long])(_.touched)
    // every present side on the driver: the statement's retired keys are
    // bounded by its batch, so the dv sidecar derives in one partition too
    val local = (upSide ++ delSide).forall(_.local)
    // current rows of the touched buckets — the one table-side read the
    // feed and the survivors share
    val current: Option[DataFrame] = cur.flatMap { m =>
      val touchedEntries = m.files.filter(f => touched(f.bucket))
      if (touchedEntries.isEmpty) None
      else Some(readLogical(spark, m, touchedEntries)) // evolution + dv fold
    }
    if (ups.isEmpty && current.isEmpty) return // deletes in buckets holding no data
    val upFeed = ups.map { u =>
      val newImaged = u.select(keyColumns :+ payloadImage(u).as("new_image"): _*)
      current.fold(newImaged.withColumn("old_image", lit(null).cast("string"))) { c =>
        newImaged.join(c.select(keyColumns :+ payloadImage(c).as("old_image"): _*),
          keyCols, "left_outer")
      }.select(keyColumns ++ Seq(
        when(col("old_image").isNull, lit("inserted")).otherwise(lit("updated")).as("change"),
        // xxhash64 of a NULL input yields the seed, not null — guard so an
        // insert's old_hash stays null (the classification consumers key on)
        when(col("old_image").isNull, lit(null).cast("long"))
          .otherwise(xxhash64(col("old_image"))).as("old_hash"),
        xxhash64(col("new_image")).as("new_hash"),
        col("old_image"), col("new_image")): _*)
    }
    val delFeed = for (c <- current; d <- dels)
      yield deletedFeed(c.join(d.select(keyColumns: _*), keyCols, "left_semi"))
    val feed = (upFeed ++ delFeed).reduce(_ unionByName _)
    val stage = s"$root/_stage/$tag"
    def dropStage(): Unit = { deleteTree(store, stage); store.deleteDirIfEmpty(s"$root/_stage") }
    val (feedRows, retired) = writeFeedCounted(feed, tag)
    if (feedRows == 0) { dropStage(); return } // changes no row: commits no version
    // per-attempt unique dir: concurrent writers must never share a data
    // dir; the version prefix is informative
    val dataDir = s"$root/data/v$version-$tag"
    val (changed, written, writtenSchema, newDvs) = morCap match {
      case None =>
        val gone = (ups ++ dels).map(_.select(keyColumns: _*)).reduce(_ unionByName _)
        val survivors = current.fold(ups.get) { c =>
          val kept = c.withColumn(BucketCol, bucketExpr).join(gone, keyCols, "left_anti")
          // additive schema evolution: a batch may carry columns the
          // current snapshot lacks (and vice versa) — missing sides read
          // as null, the lakehouse ADD COLUMN contract
          ups.fold(kept)(kept.unionByName(_, allowMissingColumns = true))
        }
        writeData(survivors, dataDir)
        (touched, listParquet(dataDir, store), survivors.schema, Seq.empty[DvEntry])
      case Some(cap) =>
        val dvs =
          if (retired == 0) Nil
          else {
            beforeDvDerive(stage)
            writeDvSidecar(spark.read.schema(feed.schema).parquet(stage)
              .filter(col("change") =!= "inserted").select(keyColumns: _*),
              version, tag, touched.size, local)
          }
        def abandon(): Unit = { deleteTree(store, s"$dataDir-dv"); dropStage() }
        val dvRows = dvs.map(_.rows).sum
        if (dvRows != retired) {
          abandon()
          throw new IllegalStateException(
            s"deletion-vector invariant broken under $root: the dv holds $dvRows key(s) " +
              s"but the staged feed retires $retired live row(s) — a short stage listing " +
              "or duplicate live keys; nothing committed")
        }
        // the buckets whose rows change — where rows append and where a
        // dv retires rows: the rebase conflict set and the cap's scope
        val changed = touchedUps ++ dvs.map(_.bucket)
        val overCap = cur.exists(m => changed.exists { b =>
          m.dvsOf(b).map(_.rows).sum +
            dvs.filter(_.bucket == b).map(_.rows).sum > math.max(1L, cap)
        })
        if (overCap) {
          abandon()
          return statement(upserts, deletes, orderCol, batchId, morCap = None)
        }
        // a driver-local side is already one partition: appended as is,
        // without the rebalance exchange
        upSide.foreach(s => writeData(s.rows, dataDir, relayout = !s.local))
        (changed, if (ups.isEmpty) Nil else listParquet(dataDir, store),
          ups.fold(new StructType())(_.schema), dvs)
    }
    val mor = morCap.isDefined
    val committedV = commitRebasing(cur,
      if (batchId == AdHocBatch) cur.map(_.batchId).getOrElse(-1L) else batchId,
      dataChanged = changed, replaced = if (mor) Set.empty else touched,
      written = written, feedStage = Some(s"_stage/$tag"),
      renames = cur.map(_.renames).getOrElse(Nil),
      addedCols = cur.map(_.addedCols).getOrElse(Nil),
      droppedCols = cur.map(_.droppedCols).getOrElse(Nil),
      writtenSchema = writtenSchema,
      // merge-on-read APPENDS: the base file and dv entries are composed
      // from the WINNING chain on every commit attempt — a pre-race
      // capture of cur.dvs would re-attach entries a concurrent
      // compaction just materialized
      dvWritten = newDvs, dvReplaced = if (mor) Set.empty else touched,
      defaults = cur.map(_.defaults).getOrElse(Nil),
      append = mor)
    foldColStats(committedV, ups)
  }

  /** Test seam: invoked between the merge-on-read statement's staged
    * feed write and the dv derivation that reads the stage back.
    * Production no-op. */
  protected def beforeDvDerive(stageDir: String): Unit = ()

  /** The one data-file writer: every version's files are written with a
    * parquet BLOOM FILTER on the key column, so point lookups that
    * survive file-level pruning also skip row groups inside the files
    * they do open (Spark's vectorized reader tests pushed equality
    * filters against the bloom automatically — free at read time, a few
    * KB per row group at write time). `keys` and `partCol` are the
    * sink's own unless an epoch rewrite writes under new ones. */
  private def writeData(df: DataFrame, dataDir: String, keys: Seq[String] = keyCols,
      partCol: Option[String] = partitionCol, relayout: Boolean = true): Unit = {
    // the partition value is DERIVED at write (date_format handles date,
    // timestamp, and ISO-string columns) and lives only in the directory
    // name — data files carry exactly the table columns, reads never see
    // it, and pruning parses it back off the path
    val (framed, partBy) = partCol match {
      case Some(p) =>
        (df.withColumn(PdateCol, date_format(col(p), "yyyy-MM-dd")),
          Seq(BucketCol, PdateCol))
      case None => (df, Seq(BucketCol))
    }
    // LAYOUT before write (`relayout`, the merge/delete/append default):
    // an AQE REBALANCE by the partition dirs. Without it a commit writes
    // (input partitions × touched buckets) files — a 32-task survivor
    // frame over 16 buckets emitted ~512 near-empty files PER COMMIT,
    // and every later scan, footer-stats pass, and sidecar fold paid
    // that amplification (measured: a 10-commit 16-bucket merge loop
    // accreted 781 files). The rebalance is the Iceberg
    // write.distribution-mode=hash shape and scale-adaptive in both
    // directions: tiny commits coalesce to one file per (bucket, pdate),
    // oversized buckets split at spark.sql.adaptive.advisoryPartitionSize
    // (skew-aware), so production-sized commits still fan out. Callers
    // that already shuffled into a deliberate layout (compaction slices,
    // recluster, partition evolution) pass relayout = false.
    val placed =
      if (relayout) framed.hint("rebalance", partBy.map(col): _*)
      else framed
    // KEY-SORTED files: each task's rows sort by (partition dirs, key
    // tuple), so the dynamic-partition writer emits every file with its
    // rows in key order — nearly free (a per-task sort the partitioned
    // writer would pay most of anyway), and what lets a compacted
    // one-file-per-bucket snapshot report its ordering to the planner
    // (SupportsReportOrdering): same-layout SPJ joins then plan with NO
    // per-task SortExec. The manifest's `sortedBy` stamp tracks whether
    // EVERY live file was written this way (full rewrites stamp; carried
    // pre-sorting vintages clear it until the next compaction).
    keys.foldLeft(placed
        .sortWithinPartitions((partBy ++ keys).map(col): _*)
        .write.mode("overwrite")
        // ADAPTIVE bloom sizing (parquet-mr 1.14+): without it every
        // bloom is allocated at parquet.bloom.filter.max.bytes (1 MiB)
        // regardless of the file's actual ndv, so a trickle commit's
        // one-bucket file was ~97% bloom bytes. Adaptive sizes the
        // filter to the observed distinct count — same false-positive
        // target; a few-key file's bloom is the smallest default
        // candidate, 64 KiB (pinned by ManifestFooterSpec), and big
        // files are unchanged.
        .option("parquet.bloom.filter.adaptive.enabled", "true")) { (w, k) =>
      w.option(s"parquet.bloom.filter.enabled#$k", "true")
    }.partitionBy(partBy: _*).parquet(dataDir)
  }

  /** OPTIMISTIC-CONCURRENCY commit: attempt `base.version + 1`; on losing
    * the rename race, re-read the winner chain and REBASE instead of
    * dying — the piece that lets a real deployment run ingest and a
    * compactor against the same table concurrently.
    *
    * Inputs describe the commit's claim: `dataChanged` = buckets whose
    * ROWS this commit changes (empty for compactions), `replaced` =
    * buckets whose manifest entries this commit's `written` files own
    * (touched set for merge/delete; every rewritten bucket for
    * compactions). The rebase rule, per intervening winner commit:
    *
    *  - winner's `touched` ∩ my `dataChanged` ≠ ∅ → ABORT loudly: both
    *    writers changed the same bucket's rows, my survivors were
    *    computed against data the winner replaced — a true conflict no
    *    rebase can fix (same as two Delta writers hitting one partition).
    *  - winner changed rows in a bucket I merely REWROTE (I'm a
    *    compaction) → drop my files for that bucket, carry the winner's:
    *    my rewrite of it is stale but everything else stands.
    *  - disjoint buckets → carry the winner's entries for its buckets,
    *    mine for mine; commit at the next version. A bucket neither
    *    writer touched keeps the latest chain's entry.
    *
    * Sound because a merge/delete reads ONLY its touched buckets' files,
    * and those files' CONTENT is what matters: a winner that didn't
    * data-change my buckets either carried them (same files) or
    * compacted them (data-identical files), so my survivor computation
    * still describes the current table. Winners predating the `touched`
    * header abort conservatively. The batch id re-maxes against the
    * winner's so the replay guard stays monotonic (multi-writer =
    * ONE ingest pipeline + maintenance jobs; two independent ingest
    * pipelines would need per-writer replay ledgers).
    *
    * Post-commit (advisory, crash costs speed never rows): the staged
    * change feed renames to `_changes/v<FINAL>`, and the stats sidecar
    * writes as carried-forward lines + fresh footer stats of the files
    * that made it into the manifest.
    *
    * `dvReplaced`: buckets whose DELETION-VECTOR entries this commit
    * owns — for any bucket REWRITE (merge, CoW delete, compaction) the
    * rewritten buckets, whose dvs the rewrite read-folded and therefore
    * MATERIALIZED (carrying them would double-count the deletion in the
    * sidecar arithmetic). Other buckets carry the chain's dv entries
    * verbatim, like their file entries.
    *
    * `append = true` is the MERGE-ON-READ commit shape: this commit
    * REPLACES nothing — the CURRENT chain's file and dv entries all
    * carry, and `written`/`dvWritten` land ON TOP. Crucially the base
    * entries are re-read from the winning chain on EVERY rebase attempt
    * (mirroring how renames/defaults are re-adopted from `latest`): a
    * fixed pre-race capture of `cur.dvs` would re-attach dv entries a
    * concurrent compaction just materialized, silently under-counting
    * metadata-only COUNT(*) with `dvInexact = false` — the exactness
    * invariant broken in precisely the ingest+compactor concurrency the
    * design advertises.
    *
    * Per attempt, `written`/`dvWritten` entries are stamped with the
    * attempt's version as their commit SEQUENCE — under a rebase the
    * files were written into a `v<attempt>` path but commit at a later
    * version, and the dv fold's `file.seq < dv.seq` test must order by
    * the COMMITTED sequence (a compaction that won the race carries the
    * attempted version; a path-derived stamp would tie with it and
    * un-mask the rows the dv retires). */
  private def commitRebasing(base: Option[Manifest], batchId: Long,
      dataChanged: Set[Long], replaced: Set[Long], written: Seq[FileEntry],
      feedStage: Option[String], renames: Seq[(String, String)],
      addedCols: Seq[(String, String)], droppedCols: Seq[String],
      writtenSchema: org.apache.spark.sql.types.StructType,
      dvWritten: Seq[DvEntry], dvReplaced: Set[Long],
      defaults: Seq[(String, String)],
      append: Boolean = false): Long = {
    var cur = base
    var keepMine = replaced
    var dvKeep = dvReplaced
    var id = batchId
    var rn = renames
    var added = addedCols
    var droppedC = droppedCols
    var dflts = defaults
    var attempt = 0
    while (true) {
      val version = cur.map(_.version + 1).getOrElse(0L)
      val mineStamped = (if (append) written else written.filter(f => keepMine(f.bucket)))
        .map(_.copy(seq = version))
      val carried =
        if (append) cur.toSeq.flatMap(_.files)
        else cur.toSeq.flatMap(_.files).filterNot(f => keepMine(f.bucket))
      val files = carried ++ mineStamped
      val dvs =
        (if (append) cur.toSeq.flatMap(_.dvs)
         else cur.toSeq.flatMap(_.dvs).filterNot(d => dvKeep(d.bucket)) ++
           dvWritten.filter(d => dvKeep(d.bucket)).map(_.copy(seq = version))) ++
          (if (append) dvWritten.map(_.copy(seq = version)) else Nil)
      // inexactness clears only when the LAST dv entry does (a partial
      // materialization cannot prove which entries over-count)
      val dvInexact = cur.exists(_.dvInexact) && dvs.nonEmpty
      // per-attempt schema stamp: when NO file is carried (a full rewrite
      // that won its race, or a fresh table) the stamp is EXACTLY what
      // was written — a union would keep retired columns the rewrite just
      // purged, phantom against the cleared fold headers; with carried
      // files it is the rebase base's stamp ∪ the written schema
      val stamp =
        if (carried.isEmpty) exactPhysSchema(writtenSchema)
        else unionPhysSchema(cur, writtenSchema)
      // sortedness: a full rewrite's files are all freshly key-sorted;
      // a partial commit keeps the stamp only if the carried chain
      // already had it (under the SAME key spec)
      val sortedStamp =
        if (carried.isEmpty && written.nonEmpty) Some(keyCol)
        else cur.flatMap(_.sortedBy).filter(_ == keyCol)
      beforeCommit(version)
      try {
        commitFeed(Manifest(version, id, Some(buckets), Some(keyCol),
          files, Some(dataChanged), feedStage, rn, partCol = partitionCol,
          addedCols = added, droppedCols = droppedC, physSchema = stamp,
          dvs = dvs, defaults = dflts, sortedBy = sortedStamp,
          dvInexact = dvInexact))
        val prev = cur.map(c => loadStats(root, store, c.version)).getOrElse(Map.empty)
        val carriedStats = files.flatMap(f => prev.get(f.path).map(f.path -> _)).toMap
        val mine = mineStamped.map(_.path)
        // carried files MISSING from the previous sidecar (a winner still
        // mid-write in the rebase window, or a crash-torn sidecar) are
        // re-read from their footers rather than silently dropped — the
        // gap is the race window's size, not the table's
        val gap = files.map(_.path)
          .filterNot(p => carriedStats.contains(p) || mine.contains(p))
        // merges (few files) collect on the driver; full-rewrite
        // compactions fan the footer reads out to executors
        val stats = carriedStats ++ ManifestStats.collectAuto(gap ++ mine)
        store.putString(s"$root/_manifest", s"v$version.stats", ManifestStats.encode(stats))
        return version
      } catch {
        case e: IllegalStateException if e.getMessage != null
            && e.getMessage.startsWith("concurrent commit") =>
          attempt += 1
          if (attempt >= MaxCommitAttempts)
            throw new IllegalStateException(
              s"gave up after $MaxCommitAttempts rebase attempts under $root", e)
          val latest = latestManifest(root, store).getOrElse(throw e)
          requireSameBuckets(Some(latest))
          val winners = (version to latest.version).map { v =>
            decode(store.readString(s"$root/_manifest/v$v.manifest"))
          }
          // a winner that crashed between its commit and its feed rename
          // would stop being the LATEST version the moment we commit on
          // top — heal its staged feed NOW, or the tailing subscribers
          // would silently skip that version's changes forever
          winners.foreach(w => healFeed(Some(w)))
          val wTouched: Set[Long] = winners.flatMap { w =>
            w.touched.getOrElse(throw new IllegalStateException(
              s"concurrent commit v${w.version} under $root predates the touched " +
                "header — cannot prove bucket disjointness, aborting (recommit after " +
                "the other writer finishes)"))
          }.toSet
          val overlap = dataChanged & wTouched
          if (overlap.nonEmpty)
            throw new IllegalStateException(
              s"true write conflict under $root: concurrent commits " +
                s"v$version..v${latest.version} changed rows in bucket(s) " +
                s"${overlap.toSeq.sorted.mkString(",")} that this commit also changes — " +
                "rebase impossible, retry from the new snapshot")
          ManifestUpsertSink.rebaseRetries.incrementAndGet()
          keepMine = keepMine -- wTouched
          dvKeep = dvKeep -- wTouched
          id = math.max(id, latest.batchId)
          // a winner compaction may have materialized (cleared) the
          // evolution headers; rename/add/drop/epoch commits themselves
          // are touched=None and abort above, so adopting the winner's
          // mapping is always consistent with the carried files
          rn = latest.renames
          added = latest.addedCols
          droppedC = latest.droppedCols
          dflts = latest.defaults
          cur = Some(latest)
      }
    }
    throw new IllegalStateException("unreachable: the commit loop returns or throws")
  }

  /** Deterministic-test seam: invoked just before each manifest commit
    * attempt. Production no-op; specs override it to inject a concurrent
    * winner at the exact race point. */
  protected def beforeCommit(attemptVersion: Long): Unit = ()

  /** INCREMENTAL column-statistics fold — CBO inputs that survive
    * trickle writes: when version `version − 1` carries a column census
    * WITH mergeable HLL sketches (stored by `ANALYZE ... FOR COLUMNS`,
    * folded forward here), the freshly committed `version` derives its
    * census instead of going dark. Batch columns union their one-pass
    * HLL sketch (over `xxhash64(value)`, nulls excluded — the same
    * canonical input ANALYZE sketches) into the previous image and add
    * their null counts; columns the batch doesn't carry add the batch's
    * row count to nulls (additive evolution reads them as null).
    * Deletes and replaced rows cannot subtract from a sketch, so folded
    * entries serve ESTIMATE-grade upper bounds (`exact = false`) — the
    * right grade for the DSv2 cardinality feed; a fresh ANALYZE
    * restores exactness. `contentUnchanged` (compaction) carries the
    * census verbatim, exactness included. Cost: one aggregation pass
    * over the BATCH — O(changed rows); never-analyzed tables pay one
    * sidecar existence check. The census is advisory: any failure here
    * must never fail a committed write. */
  private def foldColStats(version: Long, batch: Option[DataFrame],
      contentUnchanged: Boolean = false, dropped: Seq[String] = Nil): Unit =
    try {
      if (version <= 0) return
      val prev = ManifestUpsertSink.loadColStats(root, version - 1) -- dropped
      if (prev.isEmpty || prev.values.exists(_.sketch.isEmpty)) return
      val out: Map[String, ManifestStats.ColNdv] =
        if (contentUnchanged) prev
        else batch match {
          // folds drop the histogram: bin masses can't merge the way
          // sketches union — stale skew would misestimate worse than none
          case None => prev.map { case (n, c) =>
            n -> c.copy(exact = false, hist = None) }
          case Some(b) =>
            val cols = b.columns.toSet
            val names = prev.keys.toSeq.sorted
            val inBatch = names.filter(cols)
            val aggs = count(lit(1)).as("__rows") +: inBatch.flatMap(n => Seq(
              hll_sketch_agg(when(col(n).isNotNull, xxhash64(col(n))),
                ManifestStats.HllLgK).as(s"__hll__$n"),
              sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"__nulls__$n")))
            val row = b.agg(aggs.head, aggs.tail: _*).head()
            val batchRows = row.getLong(0)
            val folded = inBatch.zipWithIndex.map { case (n, i) =>
              val c = prev(n)
              val bSketch = row.getAs[Array[Byte]](1 + 2 * i)
              val bNulls = if (row.isNullAt(2 + 2 * i)) 0L else row.getLong(2 + 2 * i)
              val (merged, est) =
                if (bSketch == null) (c.sketch.get, c.ndv)
                else ManifestStats.mergeHll(c.sketch.get, bSketch)
              n -> ManifestStats.ColNdv(math.max(est, c.ndv), c.nulls + bNulls,
                Some(merged), exact = false)  // hist: dropped (can't merge)
            }.toMap
            val absent = names.filterNot(cols).map { n =>
              val c = prev(n)
              n -> c.copy(nulls = c.nulls + batchRows, exact = false, hist = None)
            }.toMap
            folded ++ absent
        }
      store.putString(s"$root/_manifest", s"v$version.colstats",
        ManifestStats.encodeCol(out))
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Finalize the latest version's staged change feed if its writer
    * crashed between manifest commit and feed rename (the crash leaves
    * exactly the LATEST version unhealed — later commits heal it here). */
  private def healFeed(cur: Option[Manifest]): Unit =
    for (m <- cur; st <- m.feed) {
      val target = s"$root/_changes/v${m.version}"
      if (!store.exists(target) && store.exists(s"$root/$st")) {
        store.rename(s"$root/$st", target); ()
      }
    }

  private def newTag(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  /** The staged change-feed write. Deliberately NOT rebalanced: unlike
    * the data write (whose dynamic `partitionBy` multiplied files by
    * plan-partitions × buckets), a feed lands at most one file per plan
    * partition — and a controlled A/B showed the extra exchange costs
    * every statement more than the few avoided file opens save its CDC
    * readers. */
  private def writeFeed(changes: DataFrame, tag: String): Unit =
    changes.write.mode("overwrite").parquet(s"$root/_stage/$tag")

  /** [[writeFeed]] with the feed's row count and its non-`inserted`
    * (retired live row) count OBSERVED by the write's own job — no extra
    * Spark action, also for an empty feed. */
  private def writeFeedCounted(changes: DataFrame, tag: String): (Long, Long) = {
    val seen = Observation()
    writeFeed(changes.observe(seen, count(lit(1)).as("rows"),
      count(when(col("change") =!= "inserted", true)).as("retired")), tag)
    val m = seen.get
    (m("rows").asInstanceOf[Long], m("retired").asInstanceOf[Long])
  }

  /** Stage a maintenance verb's change feed; returns the stage dir its
    * manifest's `feed` header names until [[commitFeed]] renames it. */
  private def stageFeed(changes: DataFrame): String = {
    val tag = newTag()
    writeFeed(changes, tag)
    s"_stage/$tag"
  }

  /** The `deleted` feed rows of `victims`, with their BEFORE images. */
  private def deletedFeed(victims: DataFrame): DataFrame =
    victims.select(keyColumns ++ Seq(lit("deleted").as("change"),
      xxhash64(payloadImage(victims)).as("old_hash"),
      lit(null).cast("long").as("new_hash"),
      payloadImage(victims).as("old_image"),
      lit(null).cast("string").as("new_image")): _*)

  /** Write a statement's deletion-vector sidecar — the victim KEY TUPLES,
    * bucket-partitioned, one small file per touched bucket — and return
    * its manifest entries with exact per-file key counts read from the
    * freshly-written footers (a few tiny files, driver-side), so cap
    * checks and metadata-only COUNT stay driver arithmetic. A victimless
    * statement leaves no dir behind. */
  private def writeDvSidecar(victims: DataFrame, version: Long, tag: String,
      touchedCount: Int, local: Boolean): Seq[DvEntry] = {
    val dvDir = s"$root/data/v$version-$tag-dv"
    // distinct: the sidecar is a key SET, and the COUNT arithmetic
    // (Σfile rows − Σdv rows) assumes one dv row per retired live
    // instance. The feed-derived victims are unique per key on a healthy
    // snapshot; duplicate live rows for a key would emit several victim
    // rows, which the dedupe turns into a dv-rows ≠ retired-rows failure
    // of the statement's invariant check instead of an over-subtraction.
    // ONE exchange: the bucket is a function of the key, so rows equal
    // on (keys, bucket) share a bucket partition, and the hash
    // repartition on the bucket already meets the distinct's clustering
    // — deduplicating before it would plan a second shuffle (one more
    // Spark job per merge-on-read statement) for the same rows. A
    // `local` statement's victims are bounded by its driver-sized batch:
    // one partition, which the distinct needs no exchange for.
    val keyed = victims.withColumn(BucketCol, bucketExpr)
    (if (local) keyed.coalesce(1) else keyed.repartition(math.max(touchedCount, 1), col(BucketCol)))
      .distinct()
      .write.mode("overwrite").partitionBy(BucketCol).parquet(dvDir)
    val dvFiles = listParquet(dvDir, store)
    val dvStats = ManifestStats.collectAuto(dvFiles.map(_.path))
    val out = dvFiles.map(f => DvEntry(f.bucket,
        dvStats.get(f.path).map(_.rows).getOrElse(throw new IllegalStateException(
          s"could not read footer row count of freshly-written dv file ${f.path}")),
        f.path))
      .filter(_.rows > 0)
    if (out.isEmpty) deleteTree(store, dvDir)
    out
  }

  /** The touched-bucket collect, with the NON-NULL KEY invariant enforced
    * in the same single action: the frame's distinct (bucket, any-key-
    * component-null) pairs are ≤ 2·buckets rows, so the probe costs
    * nothing beyond the collect the merge needs anyway. A null key
    * component fails loudly — the SQL surface advertises the key as
    * non-nullable to Catalyst (which folds IsNull on it), so a write path
    * that admitted one would make that contract silently wrong. */
  private def collectTouchedRequireKeys(keyed: DataFrame): Set[Long] = {
    val rows = keyed.select(col(BucketCol),
        keyCols.map(c => col(c).isNull).reduce(_ || _).as("nullkey"))
      .distinct().collect()
    requireNonNullKeys(rows.exists(_.getBoolean(1)))
    rows.map(_.getLong(0)).toSet
  }

  private def requireNonNullKeys(nullKey: Boolean): Unit =
    require(!nullKey,
      s"batch carries a NULL key component ($keyCol) — the lake key is " +
        "non-nullable by contract (it is the merge/bucket/row identity); " +
        "filter or coalesce null keys before writing")

  /** One classified side of a statement: its rows with the bucket column,
    * the buckets they touch, and whether the rows sit on the driver. */
  private final case class Side(rows: DataFrame, touched: Set[Long], local: Boolean)

  /** Classify one statement side, `frame(in)`, once; None when it touches
    * no bucket. A side whose plan estimate fits
    * `spark.sql.autoBroadcastJoinThreshold` (the size Spark already
    * collects to the driver to broadcast; -1 turns this off) runs in ONE
    * partition — `coalesce(1)` reports a single partition, so the LWW
    * window and the distinct plan with no exchange — and is collected
    * once: the rows give the touched set and the null-key refusal, and
    * re-enter as a driver-local relation that every later plan of the
    * statement reads. Any other side stays a lazy frame whose touched
    * buckets come from the distinct (bucket, null-key) collect of
    * `probe`, the frame itself by default. */
  private def classify(in: DataFrame, frame: DataFrame => DataFrame,
      probe: Option[DataFrame] = None): Option[Side] = {
    val spark = in.sparkSession
    val lazyRows = frame(in)
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    val side =
      if (limit >= 0 && lazyRows.queryExecution.optimizedPlan.stats.sizeInBytes <= limit) {
        val one = frame(in.coalesce(1))
        val got = one.collect()
        val keyAt = keyCols.map(one.schema.fieldIndex)
        requireNonNullKeys(got.exists(r => keyAt.exists(r.isNullAt)))
        val bucketAt = one.schema.fieldIndex(BucketCol)
        Side(spark.createDataFrame(got.toSeq.asJava, one.schema).coalesce(1),
          got.map(_.getLong(bucketAt)).toSet, local = true)
      } else
        Side(lazyRows, collectTouchedRequireKeys(probe.getOrElse(lazyRows)), local = false)
    Some(side).filter(_.touched.nonEmpty)
  }

  /** The row's full payload as a canonical JSON image (all columns except
    * the internal bucket column, name-sorted so column order never
    * changes the image or the hash derived from it). */
  private def payloadImage(df: DataFrame): Column =
    to_json(struct(df.columns.filterNot(_ == BucketCol).sorted.map(col): _*))

  private def requireSameBuckets(cur: Option[Manifest]): Unit = {
    cur.flatMap(_.buckets).filter(_ != buckets).foreach { b =>
      throw new IllegalStateException(
        s"table at $root is committed with buckets=$b but this sink is configured " +
          s"with buckets=$buckets — reopening with a different bucket count would " +
          "mis-route keys; recreate the sink with the committed count or compact first")
    }
    // same mis-route argument for the key column: bucket assignment is a
    // function of (keyCol, buckets), so both are the table's, not the
    // writer's (manifests predating the keyCol header skip the check and
    // record it on their next commit)
    cur.flatMap(_.keyCol).filter(_ != keyCol).foreach { k =>
      throw new IllegalStateException(
        s"table at $root is committed with keyCol=$k but this sink is configured " +
          s"with keyCol=$keyCol — a different key column would mis-route keys")
    }
    // the partition column is part of the committed LAYOUT too: a writer
    // with a different (or missing) one would mix partitioned and
    // unpartitioned files, silently degrading pruning and retention.
    // Manifests predating the header are unpartitioned tables (None).
    for (m <- cur if m.partCol != partitionCol)
      throw new IllegalStateException(
        s"table at $root is committed with partitionCol=${m.partCol.getOrElse("<none>")} " +
          s"but this sink is configured with ${partitionCol.getOrElse("<none>")} — " +
          "the partition layout is the table's, not the writer's")
  }

  /** Snapshot read of the latest committed version. */
  def read(spark: SparkSession): DataFrame = ManifestUpsertSink.read(spark, root)

  // ------------------------------------------- the maintenance verbs' commit path

  /** The HEAD GUARD of a maintenance verb: the latest committed manifest,
    * its crashed writer's staged feed healed, checked against this sink's
    * committed layout ([[requireSameBuckets]]); None on a table with no
    * commit. A head `noop` picks out is returned as None before the
    * layout check (compacting a table that lists no files is a no-op
    * under any layout). */
  private def headOption(noop: Manifest => Boolean = _ => false): Option[Manifest] = {
    val cur = latestManifest(root, store)
    healFeed(cur)
    val live = cur.filterNot(noop)
    requireSameBuckets(live)
    live
  }

  /** [[headOption]] for a verb that needs a committed table. */
  private def head(verb: String): Manifest = headOption().getOrElse(
    throw new IllegalStateException(s"no committed manifest under $root — nothing to $verb"))

  /** The HEADER CARRY of a metadata-only commit: every header and entry
    * of `cur` at the next version, with no feed and `touched = None` (a
    * concurrent writer aborts rather than rebasing across it). The
    * layout headers are stamped from this sink explicitly, so a manifest
    * written before they existed records them now; `ts` is restamped by
    * [[commit]]. Each verb overrides only what it changes. */
  private def carry(cur: Manifest): Manifest =
    cur.copy(version = cur.version + 1, buckets = Some(buckets), keyCol = Some(keyCol),
      partCol = partitionCol, touched = None, feed = None)

  /** [[commit]] `m` under `toRoot`, then rename its staged change feed, if
    * it has one, to the final `_changes/v<N>`. */
  private def commitFeed(m: Manifest, toRoot: String = root,
      toStore: TableStore = store): Unit = {
    commit(toRoot, toStore, m)
    for (st <- m.feed) {
      toStore.rename(s"$toRoot/$st", s"$toRoot/_changes/v${m.version}")
      toStore.deleteDirIfEmpty(s"$toRoot/_stage")
    }
  }

  /** The STATS CARRY: [[commitFeed]] a version whose files all come from
    * version `statsFrom` of this table (same physical files, so their
    * footer stats are exact), then write its sidecar as those files'
    * lines of `statsFrom`'s — never a footer read. */
  private def commitCarried(m: Manifest, statsFrom: Long, toRoot: String = root,
      toStore: TableStore = store): Unit = {
    commitFeed(m, toRoot, toStore)
    val paths = m.files.map(_.path).toSet
    val stats = loadStats(root, store, statsFrom).filter { case (p, _) => paths(p) }
    if (stats.nonEmpty)
      toStore.putString(s"$toRoot/_manifest", s"v${m.version}.stats", ManifestStats.encode(stats))
  }

  /** The NAME CENSUS the DDL verbs validate against (one merged-footer
    * read, a fair price for a DDL): the snapshot's physical and logical
    * column names, and its RETIRED names — rename sources, physical-only
    * vintages, and logically-dropped columns, whose bytes still sit in
    * old files, so reusing the name would resurrect them through the
    * fold. A snapshot listing ZERO files (legacy truncated table) reads
    * its names off the stamp, else none: an unstamped zero-path
    * `spark.read.parquet()` throws an opaque "Unable to infer schema". */
  private def nameCensus(spark: SparkSession,
      cur: Manifest): (Set[String], Set[String], Set[String]) = {
    val physDf =
      if (cur.files.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          cur.physSchema.map(StructType.fromDDL).getOrElse(new StructType()))
      else readPhysical(spark, cur, cur.files.map(_.path))
    val physical = physDf.columns.toSet
    val logical = applyEvolution(physDf, cur).columns.toSet
    (physical, logical,
      cur.renames.map(_._1).toSet ++ physical.diff(logical) ++ cur.droppedCols)
  }

  /** THE FULL REWRITE: the LOGICAL rows of `entries` (the evolution and dv
    * folds materialize on the way) bucketed by (`keys`, `nBuckets`), laid
    * out by `layout` (one task per bucket by default) and written
    * key-sorted under `partCol` into a fresh `<toRoot>/data/v<version>-…`
    * dir. Returns the written entries at sequence `version` and the
    * written schema. Compactions, the epoch changes and the deep clone
    * are this rewrite with different arguments. */
  private def rewrite(spark: SparkSession, cur: Manifest, version: Long,
      entries: Seq[FileEntry], toRoot: String = root, toStore: TableStore = store,
      keys: Seq[String] = keyCols, nBuckets: Int = buckets,
      partCol: Option[String] = partitionCol)(
      layout: DataFrame => DataFrame = _.repartition(nBuckets, col(BucketCol)))
      : (Seq[FileEntry], StructType) = {
    val all = layout(readLogical(spark, cur, entries)
      .withColumn(BucketCol, bucketOf(keys, nBuckets)))
    for (p <- partCol)
      require(all.columns.contains(p),
        s"cannot partition by $p: no such column (have ${all.columns.sorted.mkString(", ")})")
    val dataDir = s"$toRoot/data/v$version-${newTag()}"
    writeData(all, dataDir, keys, partCol, relayout = false)
    (listParquet(dataDir, toStore).map(_.copy(seq = version)), all.schema)
  }

  /** Commit a full [[rewrite]] of `cur` as version `version` of the table
    * at `toRoot`, under the layout (`key`, `nBuckets`, `partCol`): only
    * fresh files, so no evolution header and no dv, an exact schema
    * stamp, key-sorted, and a sidecar read from the new footers; `touched
    * = None`, so a concurrent writer aborts and re-opens against the new
    * layout. Returns the sink bound to that table and layout. */
  private def rewriteInto(spark: SparkSession, cur: Manifest, version: Long,
      toRoot: String, toStore: TableStore, key: String, nBuckets: Int,
      partCol: Option[String]): ManifestUpsertSink = {
    val (written, schema) = rewrite(spark, cur, version, cur.files, toRoot, toStore,
      splitKeyCols(key), nBuckets, partCol)()
    commit(toRoot, toStore, Manifest(version, cur.batchId, Some(nBuckets), Some(key),
      written, partCol = partCol, physSchema = exactPhysSchema(schema), sortedBy = Some(key)))
    toStore.putString(s"$toRoot/_manifest", s"v$version.stats",
      ManifestStats.encode(ManifestStats.collectAuto(written.map(_.path))))
    new ManifestUpsertSink(toRoot, key, nBuckets, partCol)
  }

  /** Compact the current snapshot: rewrite EVERY bucket's live rows as a
    * fresh one-file-per-bucket set and commit it as a new version. The
    * small-file answer for sustained micro-batch ingest — each merge
    * leaves one part-file set per touched bucket per batch; compaction
    * folds a bucket back to a single file (`repartition` by bucket → one
    * task → one file). Data content is unchanged, so the committed
    * manifest KEEPS the last merged batch id — the replay guard still
    * refers to data batches, and a compaction between a crash and a
    * redelivery cannot un-guard it. A compaction commits no change feed:
    * no row changed. */
  def compact(spark: SparkSession): Unit = compactInto(spark) { all =>
    all.repartition(buckets, col(BucketCol))
  }

  /** INCREMENTAL compaction — the sustained-ingest form: rewrite ONLY the
    * buckets holding at least `minFilesPerBucket` data files (each
    * MERGE-ON-READ append leaves per-batch files per touched bucket, so
    * hot MoR buckets accrete small files; copy-on-write merges rebalance
    * to one file per bucket) and carry every other bucket's entries forward
    * verbatim, zero I/O. Cost is ∝ fat-bucket bytes, never table bytes —
    * a full [[compact]] is the degenerate `minFilesPerBucket = 1`. The
    * replay guard keeps the merged batch id, like compact. No-op (no new
    * version) when no bucket crosses the threshold.
    *
    * `maxDvFraction` is the DELETE-DEBT policy: a bucket whose live
    * deletion-vector rows exceed this fraction of its sidecar-recorded
    * data rows also rewrites (materializing the dvs), EVEN below the
    * file-count threshold — so merge-on-read read amplification (every
    * row filtered against the dv set, COUNT answered by subtraction) is
    * bounded by a scheduled policy rather than operator vigilance, the
    * Delta `delectedRowFraction`-style auto-materialization knob. The
    * default 1.0 never triggers on fraction alone (a dv can't exceed
    * its bucket's rows); 0.1 means "rewrite once ≥10% of a bucket's
    * rows are dv-masked". Buckets with unknown sidecar rows decline the
    * fraction test (never guess). */
  def compactIncremental(spark: SparkSession, minFilesPerBucket: Int = 4,
      maxDvFraction: Double = 1.0): Unit = {
    val cur = headOption(_.files.isEmpty).getOrElse(return)
    // dv sidecars count toward the threshold: a bucket dragging
    // deletion vectors costs every read its anti-join, so incremental
    // maintenance folds them exactly as it folds small files
    val sidecar = loadStats(root, store, cur.version)
    def dvHeavy(b: Long, fs: Seq[FileEntry]): Boolean = {
      if (maxDvFraction >= 1.0) return false
      val dvRows = cur.dvsOf(b).map(_.rows).sum
      if (dvRows == 0) return false
      val rows = fs.map(f => sidecar.get(f.path).map(_.rows))
      rows.forall(_.isDefined) && {
        val total = rows.flatten.sum
        total > 0 && dvRows.toDouble / total > maxDvFraction
      }
    }
    val fat: Set[Long] = cur.files.groupBy(_.bucket)
      .collect { case (b, fs)
        if fs.size + cur.dvsOf(b).size >= math.max(1, minFilesPerBucket) ||
          dvHeavy(b, fs) => b }.toSet
    if (fat.isEmpty) return
    // evolution + dv fold applied on read: rewritten buckets come out
    // under the logical schema with their deletion vectors materialized;
    // carried buckets keep needing the folds (headers/entries carried
    // below) until a FULL compaction materializes them everywhere
    val (written, schema) = rewrite(spark, cur, cur.version + 1,
      cur.files.filter(f => fat(f.bucket)))(_.repartition(math.max(fat.size, 1), col(BucketCol)))
    // data-preserving rewrite of the fat buckets: dataChanged is empty,
    // so a concurrent merge into one of them simply wins that bucket
    val committedV = commitRebasing(Some(cur), cur.batchId, dataChanged = Set.empty,
      replaced = fat, written = written, feedStage = None, renames = cur.renames,
      addedCols = cur.addedCols, droppedCols = cur.droppedCols,
      writtenSchema = schema,
      dvWritten = Nil, dvReplaced = fat, // fat buckets' dvs are materialized
      defaults = cur.defaults)
    // a compaction changes no logical row: the census carries verbatim
    foldColStats(committedV, None, contentUnchanged = true)
  }

  /** CLUSTERED compaction: rewrite the snapshot range-partitioned by
    * (bucket, clusterCols) into ~`slices` output partitions and sorted
    * within each — so every data file covers one bucket and a NARROW
    * value range of the cluster columns, which is exactly the layout
    * file-level stats skipping ([[ManifestStats]]) prunes on. Hash
    * bucketing alone gives every file the full value range (each bucket
    * is a uniform sample), so range predicates can never skip; after a
    * clustered rewrite a predicate like `price BETWEEN a AND b` reads
    * only the slice files whose [min,max] overlap — the liquid-
    * clustering/Z-order role, one-dimensional by lexicographic
    * (bucket, cols...) order. Cost = one full-table range shuffle, the
    * same O(table) a plain compaction pays; `slices` trades skipping
    * granularity against file count (keep ≥ buckets or a slice spans
    * buckets and the writer splits it anyway). */
  def compactClustered(spark: SparkSession, clusterCols: Seq[String], slices: Int): Unit = {
    require(clusterCols.nonEmpty, "compactClustered needs at least one cluster column")
    compactInto(spark) { all =>
      val keys = col(BucketCol) +: clusterCols.map(col)
      all.repartitionByRange(math.max(slices, 1), keys: _*)
        .sortWithinPartitions(keys: _*)
    }
  }

  /** Z-ORDER compaction: like [[compactClustered]] but the range key is a
    * Morton interleave of the columns' QUANTILE RANKS, so every data file
    * gets a narrow [min,max] interval in EVERY z-dimension at once — the
    * layout that makes multi-dimensional predicates file-prunable
    * (q186 models the effect on a lattice; this produces it physically).
    * Lexicographic clustering bounds only its leading column: a file
    * covering one `x` slice still spans all of `y`. The curve bounds
    * both, at the price of slightly wider per-dimension intervals.
    *
    * Rank mapping: 255 approx-percentile boundaries per column, ALL
    * columns computed in ONE agg pass over the snapshot ([[zBoundaries]]
    * — a single scan no matter how many z-dimensions; driver-held,
    * skew-robust — an equi-depth histogram, Delta's range_partition_id
    * idea without the extra shuffle), each row's 8-bit bucket per
    * dimension found by a codegen'd fold over the broadcast boundary
    * array, bits interleaved bucket-major. The z key orders the rewrite
    * and is dropped before write — the data files carry only table
    * columns; skipping reads their ORIGINAL min/max from the stats
    * sidecar, no curve math at query time. Up to 4 dimensions (8 bits
    * each). */
  def compactZOrder(spark: SparkSession, zCols: Seq[String], slices: Int): Unit = {
    require(zCols.nonEmpty && zCols.size <= 4,
      "z-order supports 1-4 cluster columns (8 bits each)")
    val zKey = "__zorder"
    compactInto(spark) { all =>
      val bounds = ManifestUpsertSink.zBoundaries(all, zCols)
      val ranked = zCols.foldLeft(all) { (df, c) =>
        val bArr = bounds(c).map(lit)
        // equi-depth bucket 0..255: count boundaries the value clears
        // (nulls compare to null -> add 0 -> bucket 0, a stable corner)
        df.withColumn(s"__zb_$c", aggregate(array(bArr: _*), lit(0L),
          (acc, b) => acc + when(col(c).cast("double") >= b, 1L).otherwise(0L)))
      }
      val dims = zCols.size
      val z = (0 until 8).foldLeft(lit(0L)) { (acc, k) =>
        zCols.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
          a + shiftleft(shiftright(col(s"__zb_$c"), k).bitwiseAND(lit(1L)), k * dims + j)
        }
      }
      ranked.withColumn(zKey, z)
        .repartitionByRange(math.max(slices, 1), col(BucketCol), col(zKey))
        .sortWithinPartitions(col(BucketCol), col(zKey))
        .drop(zKey +: zCols.map(c => s"__zb_$c"): _*)
    }
  }

  /** RENAME a column WITHOUT rewriting a byte of data — the metadata-only
    * schema evolution a 100-TB table demands (a rewrite-rename is a full
    * table I/O for a name change): commits a new version carrying the
    * SAME files plus an extended (physical → logical) mapping header
    * that every read path applies ([[ManifestUpsertSink.applyRenames]]).
    * Post-rename merges write the new name physically; the DSv2
    * connector serves the LIVE mapping immediately (its rename-folding
    * scan coalesces vintages per row), and the next FULL compaction
    * materializes old vintages and clears the mapping — returning the
    * table to the fully-vectorized scan.
    * Renaming the KEY column re-keys the sink's config: this sink
    * instance dies (mismatch guard) and the returned one takes over —
    * bucket routing is untouched because hashing is over VALUES.
    * Commits with `touched = None` so any concurrent writer aborts
    * conservatively rather than rebasing across a schema change. */
  def renameColumn(spark: SparkSession, oldName: String, newName: String): ManifestUpsertSink = {
    val cur = head("rename")
    require(oldName != newName, "rename to the same name is a no-op")
    // validate against BOTH current schemas (one merged-footer read, a
    // fair price for a DDL). Logical: renaming onto an existing column
    // would silently coalesce two unrelated columns, and renaming a
    // phantom column would wedge the SQL connector behind a junk
    // mapping. PHYSICAL: a name that is still a mapping SOURCE (retired
    // by an earlier rename) or present only in the raw file schema must
    // not be REUSED — applyRenames binds by physical name and applies
    // pairs in order, so after `a->b` a later `c->a` would make every
    // new-vintage physical `a` coalesce into b and read null as logical
    // a until a full compaction (Delta's column mapping guards the same
    // hazard with field ids; the name-keyed mapping must refuse reuse).
    val (_, logical, retired) = nameCensus(spark, cur)
    require(logical(oldName),
      s"cannot rename: column $oldName does not exist (have ${logical.toSeq.sorted.mkString(", ")})")
    require(!logical(newName),
      s"cannot rename: column $newName already exists — renaming onto it would merge two columns")
    require(!retired(newName),
      s"cannot rename to $newName: the name is retired by an earlier rename or DROP " +
        "COLUMN (still a physical source in the mapping or file schema) — compact() " +
        "to materialize first")
    require(!retired(oldName),
      s"cannot rename $oldName: the name is retired by an earlier rename — compact() first")
    // a composite key re-keys component-wise (renaming any component is
    // a key-identity change: the spec string — and with it the epoch —
    // moves to the new spelling; hashing is over VALUES, so routing holds)
    val newKey = keyCols.map(c => if (c == oldName) newName else c).mkString(",")
    val newPart = partitionCol.map(p => if (p == oldName) newName else p)
    // renaming a metadata-only ADDED column re-spells its null-backed
    // header entry too (the fold applies renames BEFORE the add-fill, so
    // the entry must live under the new name); post-add files that carry
    // it physically are covered by the ordinary rename pair
    def respell(n: String): String = if (n == oldName) newName else n
    // the sidecar carries verbatim: stats stay keyed by PHYSICAL column
    // names, which is what the (rename-refusing) connector needs
    commitCarried(carry(cur).copy(keyCol = Some(newKey), partCol = newPart,
      renames = cur.renames :+ (oldName -> newName),
      addedCols = cur.addedCols.map { case (n, t) => (respell(n), t) },
      defaults = cur.defaults.map { case (n, d) => (respell(n), d) },
      sortedBy = cur.sortedBy.map(_ => newKey)), statsFrom = cur.version)
    if (newKey == keyCol && newPart == partitionCol) this
    else new ManifestUpsertSink(root, newKey, buckets, newPart)
  }

  /** ADD a column WITHOUT rewriting a byte of data — metadata-only
    * additive evolution (Delta/Iceberg ADD COLUMN): commits a new
    * version carrying the SAME files plus a null-backed header entry
    * `(name, type DDL)` that every read fold fills as a typed null
    * where no file carries the column yet. Post-add writes carry it
    * physically (merge-time additive evolution was always allowed; the
    * header is what makes the column EXIST in the SQL schema before any
    * write); the next FULL compaction materializes it everywhere and
    * clears the header. Refuses a name retired by a live rename or an
    * earlier DROP — old files still hold bytes under that name, and the
    * fold would resurrect them (the same reuse hazard renameColumn
    * guards; Delta's column mapping dodges it with field ids, a
    * name-keyed format must refuse). Commits `touched = None` so any
    * concurrent writer aborts rather than rebasing across a schema
    * change.
    *
    * `defaultSql` (NOT-NULL-DEFAULT add): the literal lives in the
    * manifest header and every read folds absent/null bytes to it; the
    * next FULL compaction MATERIALIZES the value physically and clears
    * the header — after which the column is an ordinary (nullable)
    * materialized column, like every other cleared evolution. A
    * deployment that wants the NOT NULL constraint to outlive
    * materialization enforces it at the write edge (the SQL surface's
    * store assignment does, while the header lives). */
  def addColumn(spark: SparkSession, name: String, typeDdl: String,
      defaultSql: Option[String] = None): Unit = {
    val cur = head("alter")
    // NOT-NULL-DEFAULT add (Iceberg initial-default shape): the fold
    // reads absent/null as the LITERAL everywhere until a rewrite
    // materializes it. Literals only — a non-literal default would
    // re-evaluate per read; and the codec separators are refused like
    // every other header value.
    for (d <- defaultSql) {
      require(d.nonEmpty && !d.exists(c => c == ';' || c == '\t' || c == '\n' || c == '\r'),
        s"DEFAULT literal '$d' is empty or contains a manifest separator (';'/tab/newline)")
      val parsed =
        try org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(d)
        catch { case e: Exception => throw new IllegalArgumentException(
          s"DEFAULT '$d' does not parse: ${e.getMessage}") }
      require(parsed.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal],
        s"DEFAULT must be a LITERAL (got '$d') — non-literal defaults would " +
          "re-evaluate per read")
      val litExpr = parsed.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal]
      // a NULL default is a contradiction: the defaulted add stamps the
      // column NOT NULL (the fold always produces the literal), so a
      // null-valued literal would push actual nulls through an attribute
      // Catalyst constant-folds IsNull away on — wrong results or codegen
      // reading the field without a null check (the r14 advisory)
      require(litExpr.value != null,
        s"DEFAULT '$d' is NULL — the metadata-only defaulted add declares the " +
          "column NOT NULL, so a null default would serve nulls through a " +
          "non-nullable attribute; use a plain nullable ADD COLUMN instead")
      val t = org.apache.spark.sql.types.DataType.fromDDL(typeDdl)
      require(org.apache.spark.sql.catalyst.expressions.Cast.canCast(
          parsed.dataType, t),
        s"DEFAULT '$d' (${parsed.dataType.simpleString}) cannot cast to ${t.simpleString}")
      // same refusal POST-CAST: under non-ANSI eval a cast can yield null
      // from a non-null literal (e.g. DEFAULT 'abc' as INT) — evaluate the
      // exact expression the read fold would and refuse a null (or
      // failing) result at DDL time, not at every scan
      val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
      val castedVal =
        try org.apache.spark.sql.catalyst.expressions.Cast(litExpr, t, Some(tz)).eval(null)
        catch { case e: Exception => throw new IllegalArgumentException(
          s"DEFAULT '$d' fails to cast to ${t.simpleString}: ${e.getMessage}") }
      require(castedVal != null,
        s"DEFAULT '$d' casts to NULL as ${t.simpleString} — refused for the same " +
          "reason as an explicit NULL default (the column is declared NOT NULL)")
    }
    require(name.nonEmpty && !name.exists(c =>
        c == ':' || c == ';' || c == ',' || c == '\t' || c == '\n' || c == '\r'),
      s"column name '$name' contains a manifest separator (':'/';'/','/tab/newline)")
    require(!typeDdl.exists(c => c == ';' || c == '\t' || c == '\n' || c == '\r'),
      s"type DDL '$typeDdl' contains a manifest separator (';'/tab/newline)")
    // parses-or-throws: a junk type must fail the DDL, not every read
    org.apache.spark.sql.types.DataType.fromDDL(typeDdl)
    val (_, logical, retired) = nameCensus(spark, cur)
    require(!logical(name), s"cannot add: column $name already exists")
    require(!retired(name),
      s"cannot add $name: the name is retired by a live rename or DROP COLUMN — " +
        "old files still hold bytes under it; compact() to materialize first")
    commitCarried(carry(cur).copy(addedCols = cur.addedCols :+ (name -> typeDdl),
      defaults = cur.defaults ++ defaultSql.map(name -> _)), statsFrom = cur.version)
  }

  /** DROP a column WITHOUT rewriting a byte of data — metadata-only
    * destructive evolution (Delta's zero-I/O DROP COLUMN): commits a new
    * version carrying the SAME files plus a header entry every read fold
    * projects the column away on; the bytes stay in pre-drop files until
    * a FULL compaction materializes the drop and clears the header. The
    * name stays RETIRED until then — re-adding or renaming onto it would
    * resurrect the old bytes through the fold, so both refuse. Dropping
    * a metadata-only ADDED column that no file carries yet simply
    * retracts the add header (nothing physical to retire — the name is
    * immediately reusable). Key components and the partition column
    * refuse (they are the table's committed layout, not payload).
    * Commits `touched = None`: concurrent writers abort. */
  def dropColumn(spark: SparkSession, name: String): Unit = {
    val cur = head("alter")
    require(!keyCols.contains(name),
      s"cannot drop $name: it is a key column — the merge/bucket identity of every row")
    require(!partitionCol.contains(name),
      s"cannot drop $name: it is the table's partition column (committed layout)")
    require(!name.contains(","),
      s"column name '$name' contains a manifest separator (',')")
    val (physical, logical, _) = nameCensus(spark, cur)
    require(logical(name),
      s"cannot drop: column $name does not exist (have ${logical.toSeq.sorted.mkString(", ")})")
    // physically present anywhere (incl. as a rename TARGET whose
    // retired sources still carry bytes) → the name must stay retired
    val sources = cur.renames.filter(_._2 == name).map(_._1)
    val physicallyHeld = physical(name) || sources.exists(physical)
    commitCarried(carry(cur).copy(addedCols = cur.addedCols.filterNot(_._1 == name),
      droppedCols = if (physicallyHeld) cur.droppedCols :+ name else cur.droppedCols,
      defaults = cur.defaults.filterNot(_._1 == name)), statsFrom = cur.version)
  }

  /** WIDEN a column's type WITHOUT rewriting a byte of data — the third
    * metadata-only evolution verb (Iceberg v3 type promotion): commits a
    * new version whose schema STAMP respells the column (and every
    * rename-retired physical source of it) at the wider type; every
    * stamped read then requests the wide type and Spark's parquet
    * vectorized reader PROMOTES old narrow vintages per file
    * (int32→long, float→double — the reader-level widening Spark 4
    * ships), while post-widen writes carry the wide type physically.
    * Only provably-lossless promotions are allowed: byte→short→int→long
    * along the integral chain, float→double, and byte/short/int→double
    * (exact in a double's 53-bit mantissa; long→double is NOT — it
    * rounds above 2^53). The KEY and partition columns refuse: bucket
    * routing hashes VALUES BY TYPE (xxhash64 of int 5 ≠ long 5), so a
    * widened key would mis-route every future merge. Requires a
    * schema-stamped table (pre-stamp vintages: compact() once — the
    * rewrite stamps exactly). Commits `touched = None`: concurrent
    * writers abort across a schema change. */
  def widenColumn(spark: SparkSession, name: String, toDdl: String): Unit = {
    import org.apache.spark.sql.types._
    val cur = head("alter")
    require(!keyCols.contains(name),
      s"cannot widen $name: it is a key column — bucket routing hashes values " +
        "by type, so a widened key would mis-route every future merge (recluster instead)")
    require(!partitionCol.contains(name),
      s"cannot widen $name: it is the table's partition column (committed layout)")
    val stampDdl = cur.physSchema.getOrElse(throw new IllegalStateException(
      s"cannot widen $name: table at $root predates schema stamping — " +
        "compact() once to stamp it, then widen"))
    val stamp = StructType.fromDDL(stampDdl)
    val to = DataType.fromDDL(toDdl)
    // resolve the name LOGICALLY, like every other evolution verb — a
    // rename-retired physical name must refuse, not silently widen an
    // old vintage out from under the live column (which could even be
    // the old spelling of the KEY, corrupting bucket routing)
    val logical: Set[String] = {
      var names = stamp.fieldNames.toSet
      for ((p, l) <- cur.renames)
        if (names(p) && names(l)) names -= p
        else if (names(p)) names = names - p + l
      names = names -- cur.droppedCols
      names ++ cur.addedCols.map(_._1)
    }
    val retired = cur.renames.map(_._1).toSet ++
      stamp.fieldNames.toSet.diff(logical) ++ cur.droppedCols
    require(logical(name),
      s"cannot widen: column $name does not exist (have ${logical.toSeq.sorted.mkString(", ")})")
    require(!retired(name),
      s"cannot widen $name: the name is retired by a rename or DROP COLUMN — compact() first")
    // the column's physical spellings: itself plus every rename-retired
    // source (reverse pre-image chase handles chained renames a→b→c)
    var spellings = Set(name)
    for ((p, l) <- cur.renames.reverse if spellings(l)) spellings += p
    val inStamp = stamp.fields.filter(f => spellings(f.name))
    val inAdded = cur.addedCols.filter(_._1 == name)
    for (f <- inStamp)
      require(f.dataType == to || LosslessWidenings((f.dataType, to)),
        s"cannot widen $name: ${f.dataType.simpleString} -> ${to.simpleString} is not a " +
          "lossless reader-promotable widening (allowed: byte/short/int -> wider " +
          "integral or double, float -> double)")
    for ((_, t) <- inAdded) {
      val from = DataType.fromDDL(t)
      require(from == to || LosslessWidenings((from, to)),
        s"cannot widen $name: ${from.simpleString} -> ${to.simpleString} is not a " +
          "lossless widening")
    }
    val newStamp = StructType(stamp.fields.map(f =>
      if (spellings(f.name)) f.copy(dataType = to) else f)).toDDL
    // sidecar carried verbatim: integral domains are stored as longs and
    // float/double as doubles, so the widened column's bounds stay exact
    commitCarried(carry(cur).copy(physSchema = Some(newStamp),
      addedCols = cur.addedCols.map { case (n, t) => if (n == name) (n, to.sql) else (n, t) }),
      statsFrom = cur.version)
  }

  /** RE-CLUSTER epoch change: rewrite the snapshot under a NEW
    * (keyCol, buckets) pair and commit it as the table's next epoch —
    * the partition-evolution operation (grew past the bucket count, or
    * the workload's point-lookup key changed). One full-table shuffle,
    * like any compaction; pre-epoch versions stay time-travel readable
    * under their OWN committed bucketing (reads and bucket pruning are
    * per-version, so history never re-routes), post-epoch lookups prune
    * with the new one. Commits with `touched = None`: a concurrent
    * writer must abort and re-open against the new epoch (its bucket
    * arithmetic is meaningless across the change) — epoch changes are
    * maintenance windows, not rebase material. Materializes any rename
    * mapping on the way (it is a full rewrite). Returns the sink bound
    * to the new epoch; this instance dies on its next write (mismatch
    * guard names the committed pair). */
  def recluster(spark: SparkSession, newKeyCol: String, newBuckets: Int): ManifestUpsertSink = {
    require(newBuckets > 0, "bucket count must be positive")
    val cur = head("re-cluster")
    rewriteInto(spark, cur, cur.version + 1, root, store, newKeyCol, newBuckets, partitionCol)
  }

  /** PARTITION EVOLUTION: adopt, change, or drop the table's date
    * `partitionCol` on a LIVE table as an epoch commit — the layout move
    * a table makes when its access pattern shifts (time-range scans and
    * retention start to dominate, or stop mattering). One full-table
    * rewrite under the NEW layout (the [[recluster]] precedent — bucket
    * epoch changes and partition epoch changes are the same class of
    * maintenance), committed `touched = None` so every concurrent writer
    * ABORTS and re-opens against the new layout (its survivor
    * computation assumed the old one). Old versions keep their OWN
    * committed `partCol` and time-travel-prune under it — the connector
    * resolves partition pruning per version, so history never re-prunes
    * under a layout it wasn't written with. Materializes any live rename
    * mapping on the way (it is a full rewrite). Returns the sink bound
    * to the new layout; this instance dies on its next write (the
    * partition-column mismatch guard names the committed value). */
  def repartitionBy(spark: SparkSession, newPartCol: Option[String]): ManifestUpsertSink = {
    val cur = head("re-partition")
    if (newPartCol == partitionCol) return this // same layout: no-op
    rewriteInto(spark, cur, cur.version + 1, root, store, keyCol, buckets, newPartCol)
  }

  /** RESTORE the table to committed `version` — rollback as a NEW
    * commit (Delta RESTORE parity): the restored manifest REFERENCES the
    * target version's files verbatim (zero data copy — data files are
    * immutable, and an un-vacuumed version's files are still retained or
    * time travel to it would already be dead), adopts that version's
    * (keyCol, buckets) epoch and rename mapping, and keeps the current
    * batch id so the replay guard stays monotonic. History is preserved:
    * the rolled-back versions stay time-travel readable until vacuum.
    *
    * Unlike a compaction, a restore CHANGES ROWS — so it emits a REAL
    * change feed: the per-key diff of current→target as inserted /
    * updated / deleted rows with before/after images. The diff is
    * BUCKET-PRUNED: only buckets whose manifest file lists differ
    * between the two versions are scanned (an identical file list under
    * copy-on-write proves an identical bucket), so backing out one bad
    * merge on a 100-TB table costs the touched buckets from both
    * versions, not 2× the table; pruning degrades gracefully to the full
    * diff across an epoch/rename change. A diff-less restore (rolling
    * back only an epoch or rename) still commits, with no feed, like a
    * compaction. Commits `touched = None`: a concurrent
    * writer's survivors were computed against rows the restore may
    * resurrect or kill, so it must abort and re-open — restores are
    * maintenance windows, like epoch changes.
    *
    * Refused across a KEY-IDENTITY change (the target's key column is
    * absent from the current logical schema, i.e. the key was renamed in
    * between): per-key diff semantics are undefined there — roll the
    * rename forward instead. Returns a sink bound to the restored epoch
    * (the pair may differ when rolling back across a recluster); this
    * instance dies on its next write if the pair changed. */
  def restore(spark: SparkSession, version: Long): ManifestUpsertSink = {
    val cur = head("restore")
    if (version == cur.version) return this // restoring the head: no-op
    require(version < cur.version,
      s"cannot restore to v$version: the table is at v${cur.version}")
    val target = manifestAt(root, version).getOrElse(throw new IllegalStateException(
      s"version $version not committed (or vacuumed) under $root — past the retention horizon"))
    val tKey = target.keyCol.getOrElse(keyCol)
    val tKeys = splitKeyCols(tKey)
    val tBuckets = target.buckets.getOrElse(buckets)
    // BUCKET-PRUNED diff: under copy-on-write, a bucket whose file-entry
    // list is IDENTICAL between the current and target manifests cannot
    // contain a row diff — restoring a 100-TB table to back out one bad
    // merge must scan only the touched buckets' files from both versions,
    // never 2× the table. Prunable only when the two versions share the
    // (keyCol, buckets) epoch (bucket numbers are otherwise incomparable)
    // AND the rename mapping (identical files under a different mapping
    // read as different logical rows). Conservative under compaction-only
    // differences: the file lists churned, so the bucket is read and the
    // image-equality filter drops it — extra I/O, never wrong rows.
    val (curDiffFiles, tgtDiffFiles) =
      restoreDiffEntries(cur, target, keyCol, buckets)
    def side(files: Seq[FileEntry], m: Manifest): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(readLogical(spark, m, files)) // each side folds its OWN dvs
    val curDf = side(curDiffFiles, cur)
    val tgtDf = side(tgtDiffFiles, target)
    for (c <- curDf)
      require(tKeys.forall(c.columns.contains),
        s"cannot restore across a key rename: v$version is keyed by $tKey, absent " +
          s"from the current schema (${c.columns.sorted.mkString(", ")})")
    // across a RECLUSTER the current snapshot is keyed by a DIFFERENT
    // column, so tKey values need not be unique in it — a duplicate would
    // emit conflicting diff rows per key, breaking the per-key CDC/IVM
    // contract of the feed (the restored snapshot itself would still be
    // right, which makes the corruption silent). Refuse loudly, like the
    // key-rename case: collapse the duplicates (merge/delete) first.
    if (cur.keyCol.getOrElse(keyCol) != tKey) for (c <- curDf) {
      // null-safe duplicate probe: group by the key TUPLE (null key
      // components form their own groups, exactly the per-key diff's
      // join semantics) — a count(*)-vs-countDistinct comparison would
      // ignore null-component rows and spuriously refuse a restore whose
      // non-null keys are unique
      val dups = c.groupBy(tKeys.map(col): _*).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).count()
      require(dups == 0L,
        s"cannot restore to v$version: the current snapshot (keyed by " +
          s"${cur.keyCol.getOrElse(keyCol)}) holds duplicate value(s) of the " +
          s"restore key $tKey — the per-key diff feed would be ambiguous; " +
          "deduplicate or roll the recluster forward instead")
    }
    // the diff feed: full-outer join of the two (pruned) snapshots'
    // payload images. Both sides empty ⇒ no row diff — the restore must
    // STILL commit (it may be rolling back an epoch/rename change), just
    // with no feed, exactly like a compaction
    val oldSide = curDf.map(c =>
      c.select(tKeys.map(col) :+ payloadImage(c).as("old_image"): _*))
    val newSide = tgtDf.map(t =>
      t.select(tKeys.map(col) :+ payloadImage(t).as("new_image"): _*))
    val joined = (oldSide, newSide) match {
      case (Some(o), Some(n)) => Some(o.join(n, tKeys, "full_outer"))
      case (Some(o), None) => Some(o.withColumn("new_image", lit(null).cast("string")))
      case (None, Some(n)) => Some(n.withColumn("old_image", lit(null).cast("string")))
      case (None, None) => None
    }
    val feedStage = joined.map { j =>
      stageFeed(j
        .filter(col("old_image").isNull || col("new_image").isNull ||
          col("old_image") =!= col("new_image"))
        .select(tKeys.map(col) ++ Seq(
          when(col("old_image").isNull, lit("inserted"))
            .when(col("new_image").isNull, lit("deleted"))
            .otherwise(lit("updated")).as("change"),
          when(col("old_image").isNull, lit(null).cast("long"))
            .otherwise(xxhash64(col("old_image"))).as("old_hash"),
          when(col("new_image").isNull, lit(null).cast("long"))
            .otherwise(xxhash64(col("new_image"))).as("new_hash"),
          col("old_image"), col("new_image")): _*))
    }
    // the target's headers and entries at the next version, under its own
    // (keyCol, buckets, partCol) epoch; the restored files ARE the target
    // version's, so its sidecar is exact
    commitCarried(target.copy(version = cur.version + 1, batchId = cur.batchId,
      buckets = Some(tBuckets), keyCol = Some(tKey), touched = None, feed = feedStage),
      statsFrom = version)
    if (tKey == keyCol && tBuckets == buckets && target.partCol == partitionCol) this
    else new ManifestUpsertSink(root, tKey, tBuckets, target.partCol)
  }

  /** CLONE the table's latest snapshot to `targetRoot` as a NEW table at
    * v0. Shallow (default): the clone's manifest REFERENCES the source's
    * data files — zero data copy (Delta SHALLOW CLONE): copy-on-write
    * means neither table ever mutates a shared file, so both evolve
    * independently from one committed byte set; the clone's merges write
    * under its own root, and its vacuum never reclaims foreign-root
    * files. The documented caveat is Delta's too: VACUUM on the SOURCE
    * does not know about clones and can reclaim files a shallow clone
    * still references — a clone that must outlive the source's retention
    * uses `deep = true`, which REWRITES the snapshot under the clone's
    * root (one table scan+write, rename mapping materialized on the
    * way). Carries the source's batch id so the replay-guard arithmetic
    * of a re-pointed stream stays monotonic; the shallow clone carries
    * the source's rename mapping and stats sidecar verbatim (same
    * physical files — the stats are exact). */
  def cloneTo(spark: SparkSession, targetRoot: String,
      deep: Boolean = false): ManifestUpsertSink = {
    val cur = head("clone")
    // nested roots are forbidden in BOTH directions: vacuum's own-root
    // guard is a path-prefix test, so a table living inside another
    // table's root would pass the outer table's guard and could be
    // reclaimed by it (and vice versa for the clone registry below)
    val srcNorm = normRoot(root)
    val tgtNorm = normRoot(targetRoot)
    require(tgtNorm != srcNorm && !tgtNorm.startsWith(srcNorm + "/") &&
        !srcNorm.startsWith(tgtNorm + "/"),
      s"clone target $targetRoot is nested with the source root $root — nested " +
        "table roots would let one table's vacuum reclaim the other's files")
    val tStore = TableStore.forPath(targetRoot)
    require(latestManifest(targetRoot, tStore).isEmpty,
      s"clone target $targetRoot already holds a committed table")
    // the clone STARTS AT THE SOURCE'S VERSION NUMBER, not 0: carried
    // file/dv entries keep their source commit SEQUENCES, and the fold's
    // `file.seq < dv.seq` ordering must stay monotone under the clone's
    // FUTURE commits — a clone reset to v0 would issue its next dv at
    // sequence 1, below carried sequences, silently failing to mask the
    // very rows it deletes/replaces. Version numbers are chain-local
    // names, so the gap costs nothing; the clone's history simply begins
    // where the fork happened.
    if (deep) rewriteInto(spark, cur, cur.version, targetRoot, tStore, keyCol, buckets,
      partitionCol)
    else {
      commitCarried(carry(cur).copy(version = cur.version), statsFrom = cur.version,
        targetRoot, tStore)
      // register the shallow clone under the SOURCE's manifest dir: the
      // source's vacuum reads these refs and SKIPS files a still-live
      // clone references — the documented Delta strand-the-clone caveat
      // becomes an explicit hold instead of silent data loss. A dropped
      // clone (its manifest log gone) releases the hold; deep clones
      // hold nothing (own files)
      store.putString(s"$root/_manifest", s"clone-${newTag()}.ref", tgtNorm)
      new ManifestUpsertSink(targetRoot, keyCol, buckets, partitionCol)
    }
  }

  /** CREATE a writable BRANCH: a named commit chain INSIDE the table's
    * own root (`<root>/_branches/<name>`), forked zero-copy from the
    * current snapshot — the in-root form of the shallow clone, with the
    * same fork-at-source-version rule (carried file/dv entries keep
    * their commit sequences, and the branch's next commit lands ABOVE
    * them, so the fold's `file.seq < dv.seq` ordering stays monotone).
    * Branch commits are invisible on main and vice versa; `VERSION AS
    * OF '<name>'` resolves the branch HEAD; the SQL surface addresses
    * the branch as `` `t@<name>` `` for EVERY verb (read, insert,
    * merge, row-level ops, procedures). Living inside the root is what
    * replaces the clone registry: main's vacuum ENUMERATES `_branches/`
    * and holds every file a branch still references, while the branch's
    * own vacuum never touches main's files (the own-root prefix guard).
    * The catalog properties copy keeps write options (orderCol,
    * mergeOnRead) identical on the branch. */
  def createBranch(name: String): ManifestUpsertSink = {
    require(ManifestUpsertSink.validTagName(name),
      s"bad branch name '$name' — letters/digits/-/_/. only, not all-digits")
    val cur = head("branch")
    val bRoot = ManifestUpsertSink.branchRoot(root, name)
    val bStore = TableStore.forPath(bRoot)
    require(latestManifest(bRoot, bStore).isEmpty,
      s"branch '$name' already exists under $root (drop_branch first)")
    // the fork's files ARE the source's: sidecar and catalog write
    // options carry verbatim
    commitCarried(carry(cur).copy(version = cur.version), statsFrom = cur.version, bRoot, bStore)
    if (store.exists(s"$root/_catalog.properties"))
      bStore.putString(bRoot, "_catalog.properties",
        store.readString(s"$root/_catalog.properties"))
    new ManifestUpsertSink(bRoot, keyCol, buckets, partitionCol)
  }

  /** PUBLISH a branch: fast-forward main's commit chain to the branch
    * HEAD — the closing verb of write-audit-publish (stage commits on a
    * branch, audit them there, publish by ref move). Legal ONLY when
    * main has not committed since the fork: the branch's oldest
    * retained commit must be main's CURRENT head, checked by content
    * (version + batchId + file/dv entry sets — version numbers alone
    * can collide after a branch-side vacuum), so a diverged main always
    * refuses loudly and a rewrite merge stays an explicit, separate
    * decision.
    *
    * Mechanically a REPLAY, not a squash: every branch commit above the
    * fork lands on main as its own version — history, time travel, and
    * (critically) the CDC contract survive, because a squash commit
    * with `feed=None` would read as "no row changed" to every changes
    * tail ([[graft.sources.ManifestStreamSource]]). Per version, the
    * branch's own data/dv files (paths under the branch root) MOVE to
    * the same relative location under main's root FIRST — a manifest is
    * only ever committed over live paths — then the change feed and the
    * stats/census sidecars adopt (skipping-stats keys rewritten to the
    * moved paths), then the manifest commits through the normal atomic
    * create-new with entry paths rewritten. Explicit `seq` provenance
    * carries verbatim and branch versions already continue main's
    * numbering (the fork-at-source-version rule), so the merge-on-read
    * `file.seq < dv.seq` fold ordering stays monotone across the
    * publish and main's next commit lands above the adopted head.
    * Carried-from-main entries were never under the branch root: they
    * are untouched — the publish moves only what the branch itself
    * wrote, O(branch-own files) metadata work and zero data bytes
    * copied.
    *
    * A successful publish RETIRES the branch (its own files now live in
    * main's chain; what remains under its root is dead metadata); a
    * branch with nothing to publish is left intact and the call no-ops.
    * Branch-side ALTERs publish too (the catalog-properties file
    * adopts). Concurrent main commits during the replay lose the
    * version-commit race and abort the publish mid-chain — every
    * already-adopted version is a complete readable snapshot, so main
    * is never torn, merely advanced partway. Returns main's new head
    * version. */
  def fastForwardFrom(name: String): Long = {
    require(validTagName(name),
      s"bad branch name '$name' — letters/digits/-/_/. only, not all-digits")
    val bRoot = ManifestUpsertSink.branchRoot(root, name)
    val bStore = TableStore.forPath(bRoot)
    require(bStore.exists(s"$bRoot/_manifest"), s"no branch '$name' under $root")
    val cur = latestManifest(root, store).getOrElse(throw new IllegalStateException(
      s"no committed manifest under $root — nothing to fast-forward"))
    healFeed(Some(cur))
    val bVersions = manifestVersions(bRoot, bStore).sorted
    require(bVersions.nonEmpty, s"branch '$name' has no committed chain")
    val forkM = decode(bStore.readString(
      s"$bRoot/_manifest/v${bVersions.head}.manifest"))
    require(cur.version == forkM.version && cur.batchId == forkM.batchId &&
      cur.files.toSet == forkM.files.toSet && cur.dvs.toSet == forkM.dvs.toSet,
      s"cannot fast-forward '$root' to branch '$name': main has committed since " +
        s"the fork (main at v${cur.version}, branch's oldest retained commit " +
        s"v${forkM.version}) — diverged chains need a rewrite merge, not a " +
        "fast-forward (and the branch must retain its fork commit to publish)")
    val publish = bVersions.filter(_ > cur.version)
    if (publish.isEmpty) return cur.version // nothing staged; branch kept
    val bPrefix = s"${normRoot(bRoot)}/"
    def adopted(p: String): String =
      if (p.startsWith(bPrefix)) s"${normRoot(root)}/${p.substring(bPrefix.length)}" else p
    val bms = publish.map(v => v -> decode(
      bStore.readString(s"$bRoot/_manifest/v$v.manifest")))
    // 1. the branch's OWN data + dv files move under main's root first:
    //    every manifest committed below references only live paths.
    //    skip-if-destination-exists makes a crashed publish re-runnable.
    bms.flatMap { case (_, m) =>
      (m.files.map(_.path) ++ m.dvs.map(_.path)).filter(_.startsWith(bPrefix))
    }.distinct.foreach { src =>
      val dst = adopted(src)
      if (!store.exists(dst))
        require(store.rename(src, dst), s"fast_forward: cannot move $src -> $dst")
    }
    // 2. replay ascending: feed, sidecars, then the manifest (the commit
    //    point) — each adopted version is a complete snapshot the moment
    //    it becomes main's head
    bms.foreach { case (v, bm) =>
      for (st <- bm.feed) { // heal a crashed branch writer's staged feed first
        val bTarget = s"$bRoot/_changes/v$v"
        if (!bStore.exists(bTarget) && bStore.exists(s"$bRoot/$st")) {
          bStore.rename(s"$bRoot/$st", bTarget); ()
        }
      }
      if (bStore.exists(s"$bRoot/_changes/v$v") && !store.exists(s"$root/_changes/v$v"))
        require(store.rename(s"$bRoot/_changes/v$v", s"$root/_changes/v$v"),
          s"fast_forward: cannot adopt change feed v$v")
      val statsPath = s"$bRoot/_manifest/v$v.stats"
      if (bStore.exists(statsPath))
        store.putString(s"$root/_manifest", s"v$v.stats",
          ManifestStats.encode(ManifestStats.decode(bStore.readString(statsPath))
            .map { case (p, fs) => adopted(p) -> fs }))
      val colPath = s"$bRoot/_manifest/v$v.colstats"
      if (bStore.exists(colPath))
        store.putString(s"$root/_manifest", s"v$v.colstats", bStore.readString(colPath))
      commit(root, store, bm.copy(
        files = bm.files.map(f => f.copy(path = adopted(f.path))),
        dvs = bm.dvs.map(d => d.copy(path = adopted(d.path)))))
    }
    // 3. branch-side ALTERs publish with the chain
    if (bStore.exists(s"$bRoot/_catalog.properties"))
      store.putString(root, "_catalog.properties",
        bStore.readString(s"$bRoot/_catalog.properties"))
    // 4. retire: own files moved out, carried files never lived here —
    //    what's left under the branch root is dead metadata
    deleteTree(store, bRoot)
    store.deleteDirIfEmpty(s"$root/_branches")
    publish.last
  }

  private def compactInto(spark: SparkSession)(layout: DataFrame => DataFrame): Unit = {
    val cur = headOption(_.files.isEmpty).getOrElse(return)
    // the full rewrite MATERIALIZES the whole evolution AND deletion-vector
    // fold: files come out under logical names, with metadata-only added
    // columns written physically and dropped columns' bytes gone — and the
    // committed headers clear, returning the table to the fully-vectorized scan
    val (written, schema) = rewrite(spark, cur, cur.version + 1, cur.files)(layout)
    // full data-preserving rewrite: every snapshot bucket's entries are
    // replaced, no rows change — a concurrent merge wins its buckets at
    // rebase time (my rewrite of them is stale; the rest stands)
    val rewritten = cur.files.map(_.bucket).toSet ++ written.map(_.bucket)
    val committedV = commitRebasing(Some(cur), cur.batchId, dataChanged = Set.empty,
      replaced = rewritten, written = written, feedStage = None, renames = Nil,
      addedCols = Nil, droppedCols = Nil, writtenSchema = schema,
      // the full rewrite folded EVERY bucket's dvs into its new files
      dvWritten = Nil, dvReplaced = rewritten ++ cur.dvs.map(_.bucket),
      defaults = Nil) // the full rewrite materialized every default
    // a compaction changes no logical row: the census carries verbatim
    foldColStats(committedV, None, contentUnchanged = true)
  }

  /** Delete data files no manifest in the newest `keepVersions` versions
    * references, then the superseded manifests, change feeds, and any
    * directories left empty. Bounds storage after compaction at the cost
    * of time travel past the horizon — the standard lakehouse VACUUM
    * trade. Never touches the live version.
    *
    * `keepChangeVersions` is the CHANGE-FEED retention horizon, separate
    * from the data horizon because the feed has live tailing consumers
    * ([[graft.streaming.EventStream.changesStream]] reads `_changes/`
    * through the file source): vacuuming a feed version a lagging
    * subscriber has not yet processed fails that stream mid-read (or
    * silently loses the version under ignoreMissingFiles) — the same
    * retention-vs-VACUUM caveat Delta documents for its change data
    * feed. Default (None) keeps feeds on the data horizon, right when
    * no subscriber lags; deployments with streaming subscribers pass a
    * horizon ≥ every subscriber's checkpoint lag.
    *
    * `orphanGraceMs`: also sweep data/stage dirs NO manifest references
    * (crashed writers, rebase losers' stale bucket rewrites) whose newest
    * file is older than the grace — which must exceed the longest
    * in-flight write, since an active writer's uncommitted dir looks
    * identical to a dead one. None (default) skips the sweep.
    *
    * `retainMs`: AGE-BASED retention, the horizon an operator's SLA
    * actually speaks ("7 days of time travel") — version-count retention
    * is meaningless to them (a hot table burns versions in minutes, a
    * cold one in months). A version is reclaimable only when it stopped
    * being current BEFORE `now − retainMs`: resolved against the same
    * RUNNING-MAX commit stamps `timestampAsOf` uses (writer clock skew
    * cannot reorder the horizon), via the SUCCESSOR's stamp — so every
    * `timestampAsOf` inside the window keeps resolving after the sweep.
    * Composes with `keepVersions` as a UNION of holds (both horizons are
    * promises); versions predating commit timestamping are never
    * age-reclaimed (their currency window is unprovable). */
  def vacuum(keepVersions: Int = 1, keepChangeVersions: Option[Int] = None,
      orphanGraceMs: Option[Long] = None, retainMs: Option[Long] = None): Unit =
    ManifestUpsertSink.vacuum(root, store, math.max(1, keepVersions),
      math.max(1, keepChangeVersions.getOrElse(keepVersions)), orphanGraceMs,
      retainMs)

  /** TRUNCATE: commit a new version listing NO files — a pure manifest
    * edit (zero data I/O; the Iceberg truncate shape), preserving the
    * (keyCol, buckets, partitionCol) epoch and the rename mapping so the
    * table keeps its identity and the next merge just starts over. The
    * truncated rows stay time-travel readable until vacuum. No change
    * feed (reading every row to emit its image would make truncate
    * O(table) — subscribers that need deletion images use deleteKeys);
    * commits `touched = None`, so concurrent writers abort. No-op on an
    * already-empty (or never-written) table. */
  def truncate(): Unit =
    for (cur <- headOption() if cur.files.nonEmpty)
      commit(root, store, carry(cur).copy(files = Nil, dvs = Nil, dvInexact = false))

  /** RETENTION on a date-partitioned table: commit a new version WITHOUT
    * the files whose partition date precedes `cutoff` (ISO `yyyy-MM-dd`,
    * exclusive) — a pure manifest operation, zero data I/O, the reason
    * the partition layout exists: expiring a year of a 100-TB event
    * table must not cost a table rewrite. The dropped files stay on disk
    * for time travel until [[vacuum]] reclaims them (the dropped-version
    * sweep sees no held manifest referencing them). Files in the null
    * partition, or written before the table was partitioned, are never
    * dropped (their dates are unproven).
    *
    * `cdc = false` (default) commits NO change feed — retention is a
    * storage-lifecycle event, like Delta's partition-drop + VACUUM, and
    * reading every expiring row to emit its image would make expiry
    * O(dropped bytes). Subscribers that must see expiry as deletions
    * pass `cdc = true` and pay that read. Commits `touched = None`
    * (concurrent writers abort — a merge's survivors may live in files
    * this commit removes). */
  def dropPartitionsBefore(spark: SparkSession, cutoff: String,
      cdc: Boolean = false): Unit = {
    require(partitionCol.nonEmpty,
      "dropPartitionsBefore requires a partitioned table (partitionCol)")
    require(cutoff.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"cutoff '$cutoff' is not an ISO yyyy-MM-dd date")
    val cur = headOption().getOrElse(return)
    // ISO dates compare lexicographically; unproven partitions (None or
    // the null-partition dir, which sorts above all digits) are kept
    val (dead, kept) = cur.files.partition(f =>
      partOf(f.path).exists(p => p.matches("\\d{4}-\\d{2}-\\d{2}") && p < cutoff))
    if (dead.isEmpty) return
    // dv fold included: a dv-deleted key in an expiring file is already
    // deleted and must not emit a second deletion image
    val feedStage = if (cdc) Some(stageFeed(deletedFeed(readLogical(spark, cur, dead)))) else None
    // dvs carried: a dv key whose row expired with its file simply stops
    // matching anything (retention never resurrects) — but the dv row
    // counts may now OVER-estimate the deleted rows, so the commit flags
    // them inexact; metadata-only COUNT declines until a full
    // materialization clears the dvs. Kept files are unchanged: their
    // sidecar lines carry verbatim.
    commitCarried(carry(cur).copy(files = kept, feed = feedStage,
      dvInexact = cur.dvInexact || cur.dvs.nonEmpty), statsFrom = cur.version)
  }
}

object ManifestUpsertSink {
  private[graft] val BucketCol = "__bucket"

  /** The derived date-partition directory name. Like [[BucketCol]], it
    * never materializes as a data column: derived at write, encoded only
    * in the path, parsed back for pruning and retention. */
  private[graft] val PdateCol = "__pdate"

  /** The `__pdate=<value>` segment of a data-file path, if any. */
  private[graft] def partOf(path: String): Option[String] =
    path.split("/").collectFirst {
      case seg if seg.startsWith(s"$PdateCol=") => seg.stripPrefix(s"$PdateCol=")
    }

  /** Key spec → component columns: a comma-separated list, trimmed. The
    * spec string is the table's key IDENTITY (component order feeds the
    * hash), so "a,b" ≠ "b,a"; a column whose real name contains ',' can
    * never be a lake key — the manifest header and every option surface
    * reserve the comma as the list separator. */
  private[graft] def splitKeyCols(spec: String): Seq[String] = {
    val cols = spec.split(",", -1).map(_.trim).toSeq
    require(cols.nonEmpty && cols.forall(_.nonEmpty),
      s"bad key spec '$spec' — expected a column name or comma-separated list")
    require(cols.distinct.size == cols.size,
      s"bad key spec '$spec' — duplicate component")
    cols
  }

  /** Batch-id sentinel for writes OUTSIDE the streaming sequence (ad-hoc
    * backfill save(), SQL INSERT/DELETE): bypasses the replay guard and
    * keeps the committed batch id unchanged, so a live stream's future
    * micro-batch ids are never shadowed. Ad-hoc idempotence is the
    * caller's concern, as for any Delta batch append. */
  val AdHocBatch: Long = Long.MinValue

  /** Rebase retries before a writer gives up — each retry re-reads the
    * manifest chain, so sustained loss means a hotter writer owns the
    * table and backing off to the caller is the right move. */
  private val MaxCommitAttempts = 5

  /** Observability counter: successful REBASES (lost the rename race,
    * proved bucket disjointness, carried the winners' entries, retried)
    * across every sink in the JVM — what the concurrent-writer bench
    * reports as the rebase rate. Monotonic; readers take deltas. */
  private[graft] val rebaseRetries = new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-bucket ceiling on accumulated deletion-vector keys before a
    * merge-on-read DELETE routes to copy-on-write: 64k keys × a few
    * tens of bytes is comfortably broadcast- and driver-collect-sized,
    * and a bucket with more deleted keys than that is overdue for the
    * rewrite anyway (the read-side anti-join debt compounds). */
  val DefaultDvMaxRowsPerBucket: Long = 65536L

  /** Equi-depth 255-boundary histograms for EVERY z column in ONE agg
    * pass — a z-order pre-pass must not scan the snapshot once per
    * dimension (at 100 TB that's dimensions × full-table reads before
    * the rewrite even starts). Null/empty percentile results (all-null
    * column) degrade to a single 0.0 boundary: every row lands in one
    * z-bucket for that dimension — ordering unaffected, never an error. */
  private[graft] def zBoundaries(df: DataFrame, zCols: Seq[String]): Map[String, Seq[Double]] = {
    val probs = (1 to 255).map(i => i / 256.0)
    val aggs = zCols.map(c => expr(
      s"approx_percentile(CAST(`$c` AS DOUBLE), array(${probs.mkString(",")}), 10000)"))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    zCols.zipWithIndex.map { case (c, i) =>
      val bounds = Option(if (row.isNullAt(i)) null else row.getSeq[Any](i))
        .map(_.map(_.toString.toDouble)).filter(_.nonEmpty).getOrElse(Seq(0.0))
      c -> bounds
    }.toMap
  }

  /** A committed data file. `seq` is the COMMIT SEQUENCE the file's rows
    * entered the table at (the manifest version of the commit that wrote
    * it, stamped by [[ManifestUpsertSink.commitRebasing]] per attempt so
    * a rebased commit carries its FINAL version) — the per-file
    * provenance that makes merge-on-read UPSERTS sound: a deletion
    * vector with sequence s masks a key only in files with seq < s, so
    * the replacement row (written at s) survives the very dv that
    * retires its predecessors. Manifests predating the field decode it
    * from the file's own `data/v<N>-<tag>` path segment (exact for
    * non-rebased commits; pre-seq tables never mixed dvs newer than
    * files in a bucket, so the fallback is always order-correct). */
  final case class FileEntry(bucket: Long, path: String, seq: Long = -1L)

  /** The commit sequence a `data/v<N>-…` path encodes, if any — the
    * decode-time fallback for entries committed before the explicit
    * `seq` field. Anchored to the `data/v<N>-` directory this sink
    * always writes (never a bare `/vN-`, which a table ROOT could
    * contain, e.g. `/data/v2-prod/table`), and taking the LAST match so
    * a root that itself ends in a data-shaped segment still resolves
    * the file's own version directory. */
  private[graft] def seqOfPath(path: String): Option[Long] =
    "/data/v(\\d+)-".r.findAllMatchIn(path).toSeq.lastOption.map(_.group(1).toLong)

  /** A DELETION-VECTOR sidecar file: a small parquet of deleted KEY
    * tuples scoped to one bucket (the Iceberg-v2 equality-delete shape —
    * positional bitmaps need row ids this key-addressed lake never
    * tracks; the key IS the row identity everywhere else, so it is here
    * too). Every read of the bucket anti-joins these keys away; a
    * bucket rewrite (merge, CoW delete, compaction) MATERIALIZES and
    * clears them. `rows` is the file's exact key count, recorded at
    * commit so cap checks and metadata-only COUNT stay driver
    * arithmetic — and each dv'd key exists EXACTLY ONCE in the bucket's
    * data (LWW uniqueness) and in at most one dv file (a re-delete of a
    * dv-deleted key sees it absent from `current` and records nothing),
    * so subtraction is exact — UNLESS partition retention expired files
    * out from under live dv entries (a dv'd key may then exist in ZERO
    * files); the manifest's `dvInexact` flag records that, and every
    * consumer of the subtraction (metadata-only COUNT, detail's
    * total_rows) declines until a full materialization clears the dvs.
    * Read correctness never depends on exactness: anti-joining an
    * absent key is a no-op.
    *
    * `seq` is the dv's COMMIT SEQUENCE (see [[FileEntry.seq]]): the fold
    * masks a listed key only in data files with `file.seq < dv.seq`.
    * Delete-only dvs are always newer than every file in their bucket
    * (any later file write rewrites the bucket and materializes them),
    * so the sequence test is a no-op there; it exists for merge-on-read
    * UPSERTS, whose replacement file commits at the SAME sequence as the
    * dv that retires the old rows. Legacy entries decode their seq from
    * the `v<N>-<tag>-dv` path. */
  final case class DvEntry(bucket: Long, rows: Long, path: String, seq: Long = -1L)

  /** `touched`: the buckets whose DATA this commit changed (empty for
    * compactions, which rewrite files but not rows) — the information a
    * LOSING concurrent writer needs to decide rebase-vs-abort. None on
    * pre-concurrency manifests → conservative abort. `feed`: the staged
    * change-feed dir name this commit's manifest binds (renamed to
    * `_changes/v<N>` post-commit; readers fall back through this header
    * inside the crash window). `dvs`: the snapshot's live deletion-vector
    * sidecars (merge-on-read deletes not yet materialized by a rewrite). */
  final case class Manifest(version: Long, batchId: Long, buckets: Option[Int],
      keyCol: Option[String], files: Seq[FileEntry],
      touched: Option[Set[Long]] = None, feed: Option[String] = None,
      renames: Seq[(String, String)] = Nil,
      ts: Option[Long] = None,
      partCol: Option[String] = None,
      addedCols: Seq[(String, String)] = Nil,
      droppedCols: Seq[String] = Nil,
      physSchema: Option[String] = None,
      dvs: Seq[DvEntry] = Nil,
      defaults: Seq[(String, String)] = Nil,
      sortedBy: Option[String] = None,
      dvInexact: Boolean = false) {
    /** Any live metadata-only schema-evolution state (rename mapping,
      * null-backed added columns, logically-dropped columns) — the
      * condition under which reads must fold and a FULL rewrite clears. */
    def hasEvolution: Boolean =
      renames.nonEmpty || addedCols.nonEmpty || droppedCols.nonEmpty
    /** The dv entries covering `bucket`. */
    def dvsOf(bucket: Long): Seq[DvEntry] = dvs.filter(_.bucket == bucket)
  }

  /** The committed manifest of a snapshot (latest when `version` is None). */
  private[graft] def snapshotManifest(root: String, version: Option[Long]): Manifest = {
    val store = TableStore.forPath(root)
    val m = version match {
      case Some(v) =>
        val path = s"$root/_manifest/v$v.manifest"
        if (!store.exists(path))
          throw new IllegalStateException(
            s"version $v not committed (or vacuumed) under $root")
        decode(store.readString(path))
      case None => latestManifest(root, store).getOrElse(
        throw new IllegalStateException(s"no committed manifest under $root"))
    }
    if (m.files.isEmpty)
      throw new IllegalStateException(s"manifest v${m.version} lists no files")
    m
  }

  /** The version's data-skipping sidecar; empty (= no pruning) when the
    * sidecar is absent, torn, or from a pre-stats table. */
  private[graft] def loadStats(root: String, store: TableStore,
      version: Long): Map[String, ManifestStats.FileStats] = {
    val path = s"$root/_manifest/v$version.stats"
    if (!store.exists(path)) Map.empty
    else ManifestStats.decode(store.readString(path))
  }

  private[graft] def loadStats(root: String, version: Long): Map[String, ManifestStats.FileStats] =
    loadStats(root, TableStore.forPath(root), version)

  // ------------------------------------------------------- named refs

  /** NAMED TAGS — zero-copy refs into the version graph (`_manifest/
    * tag-<name>.ref` holds the version number): `CALL system.tag` pins
    * the current version under a name, `VERSION AS OF '<name>'` time-
    * travels to it, and [[vacuum]] HOLDS tagged versions past every
    * count/age horizon (a tag is a retention promise — "the audit
    * snapshot stays readable" — not a hint). Tag names share the
    * manifest-header safety rules; a name that parses as a bare integer
    * is refused (it would shadow numeric version resolution). */
  private[graft] def validTagName(name: String): Boolean =
    name.nonEmpty && name.length <= 128 &&
      name.forall(c => c.isLetterOrDigit || c == '-' || c == '_' || c == '.') &&
      !name.forall(_.isDigit)

  private[graft] def setTag(root: String, name: String, version: Long): Unit = {
    val store = TableStore.forPath(root)
    require(validTagName(name),
      s"bad tag name '$name' — letters/digits/-/_/. only, not all-digits")
    require(store.exists(s"$root/_manifest/v$version.manifest"),
      s"cannot tag v$version: not committed (or vacuumed) under $root")
    // commitNew is the store's atomic create-if-absent (the same
    // primitive manifest commits race on) — an exists-check followed by
    // putString would let two concurrent CALLs both pass and the second
    // silently re-point an "immutable" ref (possibly a vacuum hold).
    try store.commitNew(s"$root/_manifest", s"tag-$name.ref", version.toString)
    catch { case e: IllegalStateException =>
      throw new IllegalArgumentException(
        s"tag '$name' already exists (drop_tag first — tags are immutable refs)", e)
    }
  }

  private[graft] def dropTag(root: String, name: String): Unit = {
    val store = TableStore.forPath(root)
    require(store.exists(s"$root/_manifest/tag-$name.ref"),
      s"no tag '$name' under $root")
    store.deleteFile(s"$root/_manifest/tag-$name.ref")
  }

  /** All named tags of a table: name → version. Unreadable or
    * non-numeric ref files are skipped HERE (listing is advisory);
    * vacuum reads the refs itself and ABORTS its sweep on any doubt —
    * a skipped broken tag would drop the exact version it was
    * holding. */
  private[graft] def tags(root: String): Map[String, Long] = {
    val store = TableStore.forPath(root)
    store.listNames(s"$root/_manifest")
      .filter(n => n.startsWith("tag-") && n.endsWith(".ref"))
      .flatMap { n =>
        val name = n.stripPrefix("tag-").stripSuffix(".ref")
        store.readString(s"$root/_manifest/$n").trim.toLongOption.map(name -> _)
      }.toMap
  }

  /** The version a tag names, if the tag exists. */
  private[graft] def tagVersion(root: String, name: String): Option[Long] =
    tags(root).get(name)

  /** The root of branch `name` — a full table root of its own, nested
    * under the parent's so vacuum can SEE it (see
    * [[ManifestUpsertSink!.createBranch]]). */
  private[graft] def branchRoot(root: String, name: String): String =
    s"$root/_branches/$name"

  private[graft] def branchExists(root: String, name: String): Boolean =
    validTagName(name) &&
      TableStore.forPath(root).exists(s"${branchRoot(root, name)}/_manifest")

  /** All live branches of a table (committed chains under `_branches/`). */
  private[graft] def branches(root: String): Seq[String] = {
    val store = TableStore.forPath(root)
    store.listNames(s"$root/_branches")
      .filter(n => store.exists(s"$root/_branches/$n/_manifest"))
      .sorted
  }

  /** DROP a branch: delete its chain (manifest log, own data files, own
    * dvs) — files carried from main die with main's own retention, and
    * main's next vacuum stops holding whatever only this branch still
    * referenced. */
  private[graft] def dropBranch(root: String, name: String): Unit = {
    require(validTagName(name), s"bad branch name '$name'")
    val bRoot = branchRoot(root, name)
    val store = TableStore.forPath(root)
    require(store.exists(s"$bRoot/_manifest"), s"no branch '$name' under $root")
    deleteTree(store, bRoot)
    store.deleteDirIfEmpty(s"$root/_branches")
  }

  /** The version's TABLE-LEVEL column statistics (ndv + nulls), written
    * by `ANALYZE TABLE ... FOR COLUMNS` (exact, with a mergeable HLL
    * sketch) or derived by a commit's incremental fold
    * ([[ManifestUpsertSink!.foldColStats]]: estimate-grade, the batch
    * sketch unioned into the previous census). Empty when never
    * analyzed, when the chain predates sketches, or when a fold could
    * not run — a census must serve fresh numbers or none, never stale
    * ones. */
  private[graft] def loadColStats(root: String,
      version: Long): Map[String, ManifestStats.ColNdv] = {
    val store = TableStore.forPath(root)
    val path = s"$root/_manifest/v$version.colstats"
    if (!store.exists(path)) Map.empty
    else ManifestStats.decodeCol(store.readString(path))
  }

  /** The change-feed files version `version`'s merge recorded. Falls
    * back through the manifest's `feed=` header to the staged dir when
    * the writer crashed between manifest commit and feed rename (the
    * next writer's healFeed finalizes the rename). */
  private[graft] def changeFiles(root: String, version: Long): Seq[String] = {
    val store = TableStore.forPath(root)
    def parquets(dir: String): Seq[String] = store.walkFiles(dir).filter { p =>
      val n = p.substring(p.lastIndexOf('/') + 1)
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }
    val direct = parquets(s"$root/_changes/v$version")
    val files =
      if (direct.nonEmpty) direct
      else {
        val mPath = s"$root/_manifest/v$version.manifest"
        if (!store.exists(mPath)) Seq.empty
        else decode(store.readString(mPath)).feed
          .map(st => parquets(s"$root/$st")).getOrElse(Seq.empty)
      }
    if (files.isEmpty)
      throw new IllegalStateException(s"no change feed for version $version under $root")
    files
  }

  /** COLUMN-MAPPING application — rename-without-rewrite, the Iceberg/
    * Delta-column-mapping idea with the manifest header as the id table:
    * each (physical, logical) pair maps files written under the old name
    * onto the current logical schema. Mixed vintages (old files under
    * `phys`, post-rename files already under `logical`) coalesce — a row
    * carries exactly one vintage, so the other side is null by
    * mergeSchema construction. Compaction materializes the mapping
    * physically and clears it. */
  private[graft] def applyRenames(df: DataFrame, renames: Seq[(String, String)]): DataFrame =
    renames.foldLeft(df) { case (d, (phys, logical)) =>
      val cols = d.columns.toSet
      if (cols(phys) && cols(logical))
        d.withColumn(logical, coalesce(col(logical), col(phys))).drop(phys)
      else if (cols(phys)) d.withColumnRenamed(phys, logical)
      else d
    }

  /** The FULL metadata-only schema-evolution fold, physical → logical:
    * the rename mapping ([[applyRenames]]), then logically-DROPPED
    * columns projected away (their bytes stay in pre-drop files until a
    * full rewrite materializes the drop — the zero-I/O DROP COLUMN
    * contract), then metadata-only ADDED columns filled as typed nulls
    * where no file carries them yet (post-add writes carry them
    * physically; the fill is add-if-missing, never an overwrite). Every
    * read surface — sink reads, the DSv2 schema, merge-time `current`
    * frames — speaks the output of this fold. */
  private[graft] def applyEvolution(df: DataFrame, renames: Seq[(String, String)],
      addedCols: Seq[(String, String)], droppedCols: Seq[String],
      defaults: Seq[(String, String)] = Nil): DataFrame = {
    val renamed = applyRenames(df, renames)
    val dropped = droppedCols.foldLeft(renamed)((d, c) =>
      if (d.columns.contains(c)) d.drop(c) else d)
    val defaultOf = defaults.toMap
    addedCols.foldLeft(dropped) { case (d, (name, ddl)) =>
      val t = org.apache.spark.sql.types.DataType.fromDDL(ddl)
      defaultOf.get(name) match {
        // NOT-NULL-DEFAULT add: absent/null reads as the default — exact
        // because the column admits no explicit null (declared NOT NULL;
        // the engine treats null bytes as "absent"), so pre-add vintages
        // AND post-add files that missed the column both fill
        case Some(dsql) if d.columns.contains(name) =>
          d.withColumn(name, coalesce(col(name), expr(dsql).cast(t)))
        case Some(dsql) =>
          d.withColumn(name, expr(dsql).cast(t))
        case None =>
          if (d.columns.contains(name)) d
          else d.withColumn(name, lit(null).cast(t))
      }
    }
  }

  private[graft] def applyEvolution(df: DataFrame, m: Manifest): DataFrame =
    applyEvolution(df, m.renames, m.addedCols, m.droppedCols, m.defaults)

  /** MERGE-ON-READ fold: anti-join away every key a live deletion-vector
    * sidecar of `buckets` (all when None) lists — the read-time half of
    * [[ManifestUpsertSink.deleteKeysMergeOnRead]]. The dv side is tiny
    * by the write-path cap, so the anti-join is an explicit broadcast:
    * cost ∝ data already being read + a few KB shipped. dv files carry
    * the key columns under their write-time physical names; the rename
    * fold maps old-vintage dv files onto the current logical key exactly
    * as it does data files. Expects `df` to speak LOGICAL names (i.e.
    * post-[[applyEvolution]]). */
  private[graft] def applyDv(df: DataFrame, m: Manifest,
      buckets: Option[Set[Long]] = None): DataFrame = {
    val dvs = buckets match {
      case Some(bs) => m.dvs.filter(d => bs(d.bucket))
      case None => m.dvs
    }
    if (dvs.isEmpty) df
    else {
      val keyCols = splitKeyCols(m.keyCol.getOrElse(throw new IllegalStateException(
        "manifest carries deletion vectors but no keyCol header — corrupt manifest")))
      val dvKeys = readDvKeys(df.sparkSession, m.physSchema, m.renames, keyCols, dvs.map(_.path))
      df.join(broadcast(dvKeys), keyCols, "left_anti")
    }
  }

  /** The key tuples of the dv files `paths`, in LOGICAL key names, under
    * a manifest's schema stamp `physSchema` and rename mapping `renames`
    * (the scan's dv fold reads through here too). A dv file spells the
    * key as it was named when the dv was written, and no commit clears
    * the rename mapping while a dv of an older spelling stays live: a full compaction clears the mapping
    * together with every dv it folds, one that rebases onto a winner
    * adopts the winner's mapping along with the winner's dvs
    * ([[commitRebasing]]), and epoch rewrites commit no dvs. So with no
    * mapping every live dv spells the current key, and a stamped
    * manifest reads the files under the stamp's key types — no footer
    * walk, and so no schema-merge Spark job. Otherwise mergeSchema spans
    * the key-rename vintages and the rename fold coalesces old and new
    * spellings exactly as it does for data files. */
  private[graft] def readDvKeys(spark: SparkSession, physSchema: Option[String],
      renames: Seq[(String, String)], keyCols: Seq[String], paths: Seq[String]): DataFrame =
    physSchema.filter(_ => renames.isEmpty).map(StructType.fromDDL) match {
      case Some(stamp) => spark.read.schema(StructType(keyCols.map(stamp(_)))).parquet(paths: _*)
      case None =>
        applyRenames(spark.read.option("mergeSchema", "true").parquet(paths: _*), renames)
          .select(keyCols.map(col): _*)
    }

  /** Whether the dv SEQUENCE test actually bites for this read: a dv
    * masks a key only in files OLDER than it (`file.seq < dv.seq`), so
    * when every in-scope dv is newer than every file in its bucket — the
    * invariant delete-only tables hold by construction (any later file
    * write rewrites the bucket and materializes its dvs) — the per-file
    * test is vacuous and ONE plain anti-join serves. Merge-on-read
    * UPSERTS break the invariant on purpose: their replacement files
    * commit at the same sequence as the dv that retires the old rows. */
  private[graft] def dvNeedsSeq(dvs: Seq[DvEntry], entries: Seq[FileEntry]): Boolean = {
    val maxFileSeq: Map[Long, Long] =
      entries.groupBy(_.bucket).map { case (b, es) => b -> es.map(_.seq).max }
    dvs.exists(d => maxFileSeq.get(d.bucket).exists(_ >= d.seq))
  }

  /** The LOGICAL rows of `paths` under manifest `m`: physical read →
    * evolution fold → deletion-vector fold scoped to the files' buckets
    * — what every row-reading verb means by "current". `prep` runs on
    * the raw physical frame before the folds (the snapshot surfaces drop
    * a legacy-materialized bucket column there).
    *
    * Two dv shapes: when every dv is newer than every file in its bucket
    * (always, for delete-only tables) the fold is ONE broadcast
    * anti-join over the whole read — zero plan change vs pre-seq rounds.
    * When merge-on-read upserts have interleaved file and dv sequences,
    * the read groups files BY COMMIT SEQUENCE (same logical schema per
    * group — a union, not a join), stamps each group's rows with their
    * file sequence, and anti-joins on (key match AND dv.seq > file.seq):
    * the replacement row written at the dv's own sequence survives the
    * dv that retires its predecessors. Group count = distinct live
    * commit sequences, bounded by files-per-bucket (compaction collapses
    * it back to 1). */
  private[graft] def readLogical(spark: SparkSession, m: Manifest,
      entries: Seq[FileEntry], prep: DataFrame => DataFrame = identity): DataFrame = {
    val bucketSet = entries.map(_.bucket).toSet
    val dvs = m.dvs.filter(d => bucketSet(d.bucket))
    def plain = applyEvolution(prep(readPhysical(spark, m, entries.map(_.path))), m)
    if (dvs.isEmpty) plain
    else if (!dvNeedsSeq(dvs, entries)) applyDv(plain, m, Some(bucketSet))
    else {
      val keyCols = splitKeyCols(m.keyCol.getOrElse(throw new IllegalStateException(
        "manifest carries deletion vectors but no keyCol header — corrupt manifest")))
      val FseqCol = "__fseq"
      val data = entries.groupBy(_.seq).toSeq.sortBy(_._1).map { case (s, es) =>
        applyEvolution(prep(readPhysical(spark, m, es.map(_.path))), m)
          .withColumn(FseqCol, lit(s))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
      val dvKeys = dvs.groupBy(_.seq).toSeq.sortBy(_._1).map { case (s, ds) =>
        readDvKeys(spark, m.physSchema, m.renames, keyCols, ds.map(_.path))
          .withColumn("__dvseq", lit(s))
      }.reduce(_.unionByName(_))
      val cond = keyCols.map(k => data(k) === dvKeys(k)).reduce(_ && _) &&
        dvKeys("__dvseq") > data(FseqCol)
      data.join(broadcast(dvKeys), cond, "left_anti").drop(FseqCol)
    }
  }

  /** Normalize a written frame's schema into STAMP form: the layout
    * columns out (`__bucket`/`__pdate` live in directory names, never in
    * file bytes — a stamped read must not request them) and everything
    * nullable (the stamp may cover files that lack a column; the reader
    * null-fills, so a non-null claim would lie to Catalyst). */
  private def stampForm(written: StructType): StructType =
    StructType(written.fields
      .filterNot(f => f.name == BucketCol || f.name == PdateCol)
      .map(_.copy(nullable = true)))

  /** The lossless, reader-promotable widenings ([[ManifestUpsertSink.widenColumn]]
    * allows exactly these; Spark 4's parquet readers promote them per
    * file). Shared with the stamp union so a mixed narrow/wide race or
    * merge resolves to the WIDE type instead of dropping the stamp. */
  private[graft] val LosslessWidenings: Set[(org.apache.spark.sql.types.DataType,
      org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    Set(
      (ByteType, ShortType), (ByteType, IntegerType), (ByteType, LongType),
      (ShortType, IntegerType), (ShortType, LongType),
      (IntegerType, LongType),
      (FloatType, DoubleType),
      (ByteType, DoubleType), (ShortType, DoubleType), (IntegerType, DoubleType))
  }

  /** A DDL safe to embed in the manifest codec: the tab is the
    * header/file-line discriminator and newlines end lines, so a column
    * name carrying either cannot be stamped — DECLINE the stamp (reads
    * fall back to the footer walk, the pre-stamp behavior) rather than
    * failing a merge that used to succeed. */
  private def codecSafe(ddl: String): Option[String] =
    if (ddl.exists(c => c == '\t' || c == '\n' || c == '\r')) None else Some(ddl)

  /** The stamp of a commit whose files are all freshly written (a full
    * rewrite, a fresh table): exactly the written schema. */
  private[graft] def exactPhysSchema(written: StructType): Option[String] =
    codecSafe(stampForm(written).toDDL)

  /** The next commit's PHYSICAL-union schema stamp: previous stamp ∪ the
    * newly-written files' schema, matched by name. The stamp is allowed
    * to be a SUPERSET of the live files' union (carried-bucket commits
    * never shrink it): every surplus name is, by construction, a
    * rename-retired source or a dropped column — the evolution fold
    * coalesces or projects those away, and parquet null-fills a
    * requested-but-absent column — so a superset is read-safe. Rules:
    *  - fresh table (no base manifest): the written schema, exactly;
    *  - base predates stamping (no stamp): stays UNSTAMPED — the carried
    *    files' schema is unknown, and a wrong stamp would silently null
    *    columns; the next FULL rewrite stamps exactly;
    *  - same-name fields whose types differ by a LOSSLESS WIDENING
    *    resolve to the WIDE type (a post-widen merge whose batch still
    *    carries the narrow spelling — e.g. one that touched only empty
    *    buckets, so no wide `current` frame coerced it — must not
    *    un-widen the table or drop its stamp; the narrow new file reads
    *    promoted like any old vintage);
    *  - any OTHER type conflict drops the stamp (read falls back to the
    *    mergeSchema footer walk — never guess). */
  private[graft] def unionPhysSchema(base: Option[Manifest],
      written: StructType): Option[String] = {
    val w = stampForm(written)
    base match {
      case None => codecSafe(w.toDDL)
      case Some(m) => m.physSchema.flatMap { prevDdl =>
        val prev = StructType.fromDDL(prevDdl)
        val wByName = w.fields.map(f => f.name -> f).toMap
        val unresolvable = prev.fields.exists { p =>
          wByName.get(p.name).exists(f => f.dataType != p.dataType &&
            !LosslessWidenings((f.dataType, p.dataType)) &&
            !LosslessWidenings((p.dataType, f.dataType)))
        }
        if (unresolvable) None
        else {
          val prevNames = prev.fieldNames.toSet
          val merged = prev.fields.map { p =>
            wByName.get(p.name) match {
              case Some(f) if LosslessWidenings((p.dataType, f.dataType)) => f.copy(nullable = true)
              case _ => p // equal, or p is already the wider of the two
            }
          } ++ w.fields.filterNot(f => prevNames(f.name))
          codecSafe(StructType(merged).toDDL)
        }
      }
    }
  }

  /** Physical read of `paths` under `m`'s committed schema stamp — ZERO
    * footer I/O (the mergeSchema fallback reads EVERY footer at planning,
    * an O(files) cost a 100-TB read must not pay per merge). Unstamped
    * manifests (pre-stamp vintages) keep the footer walk. */
  private[graft] def readPhysical(spark: SparkSession, m: Manifest,
      paths: Seq[String]): DataFrame = m.physSchema match {
    case Some(ddl) => spark.read.schema(StructType.fromDDL(ddl)).parquet(paths: _*)
    case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
  }

  /** Snapshot read: latest manifest's files, bucket column dropped (it is
    * derivable from the key and re-derived on the next merge), rename
    * mapping applied. An empty or absent table raises — callers create
    * state by merging a batch. mergeSchema: after additive evolution a
    * snapshot's buckets can carry different vintages until the next
    * compaction unifies them. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val m = snapshotManifest(root, None)
    readLogical(spark, m, m.files, _.drop(BucketCol))
  }

  /** Time-travel read: the snapshot AS OF a committed version — the
    * manifest log keeps every version until [[ManifestUpsertSink.vacuum]]
    * reclaims it, so any un-vacuumed version reads exactly as it
    * committed (data files are immutable once referenced), under that
    * VERSION's OWN rename mapping (a later rename never rewrites
    * history). */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame = {
    val m = snapshotManifest(root, Some(version))
    readLogical(spark, m, m.files, _.drop(BucketCol))
  }

  /** TIMESTAMP time travel for the Scala API: the snapshot current as of
    * `tsMs` epoch millis ([[versionAtTimestamp]] for the resolution
    * contract, incl. the running-max answer to writer clock skew). */
  def readTimestamp(spark: SparkSession, root: String, tsMs: Long): DataFrame =
    readVersion(spark, root, versionAtTimestamp(root, tsMs))

  /** DESCRIBE HISTORY: the committed manifest log as a DataFrame — one
    * row per un-vacuumed version with its commit stamp, replay-guard
    * batch id, layout pair, file count, the buckets the commit changed,
    * and whether it recorded a change feed. Driver-side cost ∝ committed
    * versions (one small manifest read each) — the same walk the
    * streaming source does; data files are never touched. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    committedVersions(root).flatMap(v => manifestAt(root, v)).map { m =>
      (m.version, m.ts, m.batchId, m.keyCol, m.buckets, m.files.size.toLong,
        m.touched.map(_.toSeq.sorted), m.feed.isDefined, m.renames.nonEmpty,
        m.hasEvolution)
    }.toDF("version", "ts", "batch_id", "key_col", "buckets", "n_files",
      "touched_buckets", "has_change_feed", "has_renames", "has_evolution")
  }

  /** The row-level change feed version `version`'s merge recorded:
    * (key, change ∈ inserted|updated, old_hash, new_hash, old_image,
    * new_image) — the images are canonical JSON of the name-sorted
    * before/after payloads (null old side for inserts), so a consumer
    * can maintain downstream aggregates DIFFERENTIALLY from the feed
    * alone (q301's IVM shape) without re-reading the table. old_hash =
    * new_hash marks a value-identical rewrite. Compactions record no
    * feed (no row changes). Building the frame runs no Spark job: one
    * job writes all of a version's feed files, so the first file's
    * footer gives the schema ([[graft.Tables.readParquet]]). */
  def readChanges(spark: SparkSession, root: String, version: Long): DataFrame =
    graft.Tables.readParquet(spark, changeFiles(root, version))

  private def vacuum(root: String, store: TableStore, keep: Int, keepChanges: Int,
      orphanGrace: Option[Long], retainMs: Option[Long] = None): Unit = {
    val versions = manifestVersions(root, store).sorted
    if (versions.isEmpty) return
    // AGE hold: version at index i is age-reclaimable iff its SUCCESSOR's
    // running-max commit stamp precedes the horizon (i.e. v stopped being
    // current before it) — the running max is the same monotone clock
    // timestampAsOf resolves on, so a resolvable ask inside the window
    // can never point at a reclaimed version. Unstamped successors keep
    // the version (currency unprovable = never reclaim on a doubt).
    val ageKeeps: Long => Boolean = retainMs match {
      case None => _ => false
      case Some(r) =>
        val horizon = System.currentTimeMillis() - math.max(0L, r)
        val runMax = versions.scanLeft(Option.empty[Long]) { (acc, v) =>
          val ts = decode(store.readString(s"$root/_manifest/v$v.manifest")).ts
          (acc, ts) match {
            case (Some(a), Some(t)) => Some(math.max(a, t))
            case (a, t) => t.orElse(a)
          }
        }.tail
        val keepAt = versions.indices.map { i =>
          i == versions.size - 1 || runMax(i + 1).forall(_ > horizon)
        }
        val byVersion = versions.zip(keepAt).toMap
        v => byVersion.getOrElse(v, true)
    }
    // feeds survive on their own (≥ data) horizon — see class scaladoc —
    // and are reclaimed by LISTING `_changes/` rather than walking dropped
    // manifests: a feed retained past its manifest (an earlier vacuum with
    // a longer keepChangeVersions) must still age out on a later call.
    // The age hold floors the feed horizon too: a version whose DATA the
    // SLA retains keeps its feed.
    val countChangeHorizon: Long =
      if (versions.size <= keepChanges) versions.head
      else versions(versions.size - keepChanges)
    val ageChangeFloor: Long =
      versions.find(ageKeeps).getOrElse(countChangeHorizon)
    val changeHorizon: Long = math.min(countChangeHorizon, ageChangeFloor)
    store.listNames(s"$root/_changes")
      .flatMap(n => if (n.startsWith("v")) n.stripPrefix("v").toLongOption else None)
      .filter(_ < changeHorizon)
      .foreach(v => deleteTree(store, s"$root/_changes/v$v"))
    store.deleteDirIfEmpty(s"$root/_changes")
    // trailing slashes normalized so the own-root prefix guard below can
    // never be silently disabled by a `root/` spelling
    val rootNorm = normRoot(root)
    // files a REGISTERED shallow clone still references under THIS root
    // stay live: cloneTo records each clone in `_manifest/clone-*.ref`,
    // so the Delta caveat (source vacuum strands shallow clones) is an
    // explicit skip here. A clone whose manifest log is gone releases
    // its hold and the stale ref is removed; an UNREADABLE clone root
    // (transient store error, a race with the clone's own maintenance)
    // aborts this run's drop sweep entirely — holding only the held
    // manifests' paths would be a no-op (they are live regardless) and
    // the dropped versions' files the clone references would be deleted,
    // the exact loss the registry exists to prevent. Never reclaim on a
    // doubt; the next vacuum retries.
    var cloneUnreadable = false
    // BRANCHES hold exactly like registered clones — they are in-root
    // shallow forks, enumerated directly (no registry needed: the chain
    // lives where this vacuum can see it). Every version of every
    // branch chain holds its referenced files; drop_branch releases.
    val branchRoots = branches(root).map(branchRoot(root, _))
    val cloneHeld: Set[String] = (store.listNames(s"$root/_manifest")
      .filter(n => n.startsWith("clone-") && n.endsWith(".ref"))
      .map(ref => (Some(ref), store.readString(s"$root/_manifest/$ref").trim)) ++
      branchRoots.map(b => (None, b)))
      .flatMap { case (ref, cRoot) =>
        try {
          val cStore = TableStore.forPath(cRoot)
          val cVersions = manifestVersions(cRoot, cStore)
          if (cVersions.isEmpty) { ref.foreach(r => store.deleteFile(s"$root/_manifest/$r")); Nil }
          else cVersions
            .map(v => decode(cStore.readString(s"$cRoot/_manifest/v$v.manifest")))
            .flatMap(m => m.files.map(_.path) ++ m.dvs.map(_.path))
            .filter(_.startsWith(s"$rootNorm/"))
        } catch { case _: Exception =>
          cloneUnreadable = true; Nil
        }
      }.toSet
    // NAMED TAGS hold their versions unconditionally (a tag is a
    // retention promise). Same never-reclaim-on-a-doubt rule as the
    // clone registry: an UNREADABLE or unparseable tag ref aborts this
    // run's sweep entirely — skipping it would drop the exact version
    // the broken tag was holding.
    val (tagged: Set[Long], tagUnreadable: Boolean) =
      try {
        val refs = store.listNames(s"$root/_manifest")
          .filter(n => n.startsWith("tag-") && n.endsWith(".ref"))
        val vs = refs.map(n => store.readString(s"$root/_manifest/$n").trim.toLong)
        (vs.toSet, false)
      } catch { case _: Exception => (Set.empty[Long], true) }
    val drop0 =
      if (versions.size <= keep || cloneUnreadable || tagUnreadable) Seq.empty[Long]
      else versions.dropRight(keep)
    // union of holds: count keeps the newest `keep`, age keeps every
    // version still current inside the retain window, tags forever
    val drop = drop0.filterNot(ageKeeps).filterNot(tagged)
    val hold = versions.filterNot(drop.toSet)
    val heldMs = hold.map(v => decode(store.readString(s"$root/_manifest/v$v.manifest")))
    val live: Set[String] =
      heldMs.flatMap(m => m.files.map(_.path) ++ m.dvs.map(_.path)).toSet ++ cloneHeld
    // the data dirs held manifests reference (a carried entry keeps its
    // ORIGINAL commit's dir alive, so reference-count by dir, not version)
    val heldDirs: Set[String] = live.flatMap(dataDirOf(root, _))
    val droppedDirs = Set.newBuilder[String]
    for (v <- drop) {
      val m = decode(store.readString(s"$root/_manifest/v$v.manifest"))
      // data files only the dropped version references, then its
      // manifest + stats sidecar, and any directories the deletes emptied.
      // NEVER outside this table's root: a shallow clone's early versions
      // reference the SOURCE's files — those are the source table's to
      // retain or reclaim, not the clone's
      (m.files.map(_.path) ++ m.dvs.map(_.path))
        .filterNot(live).filter(_.startsWith(s"$rootNorm/"))
        .foreach(store.deleteFile)
      store.deleteFile(s"$root/_manifest/v$v.manifest")
      store.deleteFile(s"$root/_manifest/v$v.stats")
      store.deleteFile(s"$root/_manifest/v$v.colstats")
      droppedDirs ++= (m.files.map(_.path) ++ m.dvs.map(_.path))
        .flatMap(dataDirOf(root, _))
    }
    // a dropped version's dirs: removable once NO held manifest references
    // a file inside them; removal also clears the _SUCCESS/.crc markers
    // Spark writes alongside the parquet parts, which no manifest lists
    droppedDirs.result().filterNot(heldDirs).foreach(deleteTree(store, _))
    // stale external-reader exports: a `_symlink/v<N>` manifest whose
    // version is vacuumed points at files this sweep may have reclaimed —
    // an external engine reading it would fail mid-list (or worse, read a
    // half-reclaimed snapshot). Exports live exactly as long as their
    // version's time travel.
    val heldSet = hold.toSet
    store.listNames(s"$root/_symlink")
      .flatMap(n => if (n.startsWith("v")) n.stripPrefix("v").toLongOption
        .map(n -> _) else None)
      .filterNot { case (_, v) => heldSet(v) }
      .foreach { case (n, _) => deleteTree(store, s"$root/_symlink/$n") }
    store.deleteDirIfEmpty(s"$root/_symlink")
    // ORPHAN sweep (opt-in, age-gated): dirs NO manifest ever committed —
    // a writer that crashed before its commit, or a rebase loser's stale
    // bucket rewrites. Age-gated because an IN-FLIGHT writer's dir is
    // indistinguishable from a dead one (the Delta tombstone-retention
    // trade); grace must exceed the longest running write.
    for (grace <- orphanGrace) {
      val now = System.currentTimeMillis()
      def stale(dir: String): Boolean = {
        val fs = store.walkFiles(dir)
        val newest = if (fs.isEmpty) store.mtime(dir) else fs.map(store.mtime).max
        now - newest >= grace
      }
      for (name <- store.listNames(s"$root/data");
           dir = s"$root/data/$name" if !heldDirs(dir) && stale(dir))
        deleteTree(store, dir)
      val feedRefs = heldMs.flatMap(_.feed).toSet
      for (name <- store.listNames(s"$root/_stage")
           if !feedRefs(s"_stage/$name") && stale(s"$root/_stage/$name"))
        deleteTree(store, s"$root/_stage/$name")
      store.deleteDirIfEmpty(s"$root/_stage")
    }
  }

  /** The file entries [[ManifestUpsertSink.restore]]'s diff feed must
    * scan from each side — pruned to the buckets whose file lists DIFFER
    * between the two manifests, when the versions share the (keyCol,
    * buckets) epoch and the rename mapping (identical files otherwise
    * read as different logical rows). Falls back to the full lists
    * across an epoch/rename change. Pure, so the pruning contract is
    * directly testable. */
  private[graft] def restoreDiffEntries(cur: Manifest, target: Manifest,
      fallbackKey: String, fallbackBuckets: Int): (Seq[FileEntry], Seq[FileEntry]) = {
    val prunable =
      cur.keyCol.getOrElse(fallbackKey) == target.keyCol.getOrElse(fallbackKey) &&
      cur.buckets.getOrElse(fallbackBuckets) == target.buckets.getOrElse(fallbackBuckets) &&
      cur.renames == target.renames &&
      cur.addedCols == target.addedCols && cur.droppedCols == target.droppedCols &&
      cur.defaults == target.defaults
    if (!prunable) (cur.files, target.files)
    else {
      val curBy = cur.files.groupBy(_.bucket).view.mapValues(_.map(_.path).toSet).toMap
      val tgtBy = target.files.groupBy(_.bucket).view.mapValues(_.map(_.path).toSet).toMap
      // a bucket is provably identical only when BOTH its file list and
      // its deletion-vector list match — same files under different dvs
      // are different logical rows
      val curDvBy = cur.dvs.groupBy(_.bucket).view.mapValues(_.map(_.path).toSet).toMap
      val tgtDvBy = target.dvs.groupBy(_.bucket).view.mapValues(_.map(_.path).toSet).toMap
      val changed = (curBy.keySet ++ tgtBy.keySet ++
          curDvBy.keySet ++ tgtDvBy.keySet).filter(b =>
        curBy.getOrElse(b, Set.empty) != tgtBy.getOrElse(b, Set.empty) ||
        curDvBy.getOrElse(b, Set.empty) != tgtDvBy.getOrElse(b, Set.empty))
      (cur.files.filter(f => changed(f.bucket)),
        target.files.filter(f => changed(f.bucket)))
    }
  }

  /** Root with trailing slashes stripped — the ONE spelling every
    * path-prefix guard (vacuum own-root, clone registry, nested-root
    * refusal) compares against. */
  private def normRoot(root: String): String = {
    var r = root
    while (r.length > 1 && r.endsWith("/")) r = r.dropRight(1)
    r
  }

  /** The `<root>/data/<dir>` segment a data-file path lives under. */
  private def dataDirOf(root: String, path: String): Option[String] = {
    val prefix = s"$root/data/"
    if (!path.startsWith(prefix)) None
    else {
      val rest = path.substring(prefix.length)
      val cut = rest.indexOf('/')
      if (cut <= 0) None else Some(prefix + rest.substring(0, cut))
    }
  }

  /** Remove every file under `dir`, then its emptied directories
    * (deepest first — bounded by the version's own file count). */
  private def deleteTree(store: TableStore, dir: String): Unit = {
    val files = store.walkFiles(dir)
    files.foreach(store.deleteFile)
    val dirs = Iterator.iterate(files.map(p => p.substring(0, p.lastIndexOf('/')))
        .distinct.filter(_.length > dir.length))(ds =>
        ds.map(p => p.substring(0, p.lastIndexOf('/'))).distinct.filter(_.length > dir.length))
      .takeWhile(_.nonEmpty).flatten.toSeq
    dirs.distinct.sortBy(-_.length).foreach(store.deleteDirIfEmpty)
    store.deleteDirIfEmpty(dir)
  }

  /** Plain-text manifest codec — one `bucket<TAB>path` line per file
    * after a `version`/`batchId`/`buckets` header. Deliberately not JSON:
    * zero parser dependencies, diff-able, and append-order stable. */
  private def encode(m: Manifest): String = {
    val header = Seq(s"version=${m.version}", s"batchId=${m.batchId}") ++
      m.buckets.map(b => s"buckets=$b") ++ m.keyCol.map(k => s"keyCol=$k") ++
      m.partCol.map(p => s"partCol=$p") ++
      m.touched.map(t => s"touched=${t.toSeq.sorted.mkString(",")}") ++
      m.feed.map(f => s"feed=$f") ++ m.ts.map(t => s"ts=$t") ++
      (if (m.renames.isEmpty) Nil
       else Seq(s"rename=${m.renames.map { case (p, l) => s"$p:$l" }.mkString(",")}")) ++
      // added-column types are DDL strings which may contain ',' (e.g.
      // decimal(10,2)) but never ';' or a leading-name ':' — entries are
      // ';'-separated and split on the FIRST ':' (names refuse those
      // characters at addColumn time)
      (if (m.addedCols.isEmpty) Nil
       else Seq(s"addcols=${m.addedCols.map { case (n, t) => s"$n:$t" }.mkString(";")}")) ++
      (if (m.droppedCols.isEmpty) Nil
       else Seq(s"dropcols=${m.droppedCols.mkString(",")}")) ++
      // DEFAULT literals of NOT-NULL-DEFAULT added columns: ';'-separated
      // `name:<sql literal>` entries, split on the FIRST ':' (the literal
      // may carry ':'; names refuse ':' at addColumn time, literals
      // refuse ';'/tab/newline)
      (if (m.defaults.isEmpty) Nil
       else Seq(s"defcols=${m.defaults.map { case (n, d) => s"$n:$d" }.mkString(";")}")) ++
      // every live data file's rows are sorted by this key tuple within
      // the file (cleared while any pre-sorting vintage is carried)
      m.sortedBy.map(k => s"sortedBy=$k") ++
      // set when partition retention expired files under live dv entries:
      // dv row counts are then an over-estimate of the deleted rows
      (if (m.dvInexact) Seq("dvInexact=true") else Nil) ++
      // the committed PHYSICAL union schema of the listed files (DDL;
      // no tab/newline by the header-safety rules) — what lets every
      // read skip footer I/O entirely
      m.physSchema.map(s => s"schema=$s")
    // dv lines are `dv<TAB>bucket<TAB>rows<TAB>seq<TAB>path` — the
    // leading non-numeric token separates them from data-file lines
    // (whose first field is the numeric bucket, format
    // `bucket<TAB>seq<TAB>path`). A still-unstamped seq (-1, only
    // reachable through direct commit() callers like deep clone) falls
    // back to the path's version segment at encode time, so committed
    // manifests always carry a resolved sequence.
    def fileSeq(f: FileEntry): Long =
      if (f.seq >= 0) f.seq else seqOfPath(f.path).getOrElse(0L)
    def dvSeq(d: DvEntry): Long =
      if (d.seq >= 0) d.seq else seqOfPath(d.path).getOrElse(Long.MaxValue)
    (header ++ m.files.map(f => s"${f.bucket}\t${fileSeq(f)}\t${f.path}") ++
      m.dvs.map(d => s"dv\t${d.bucket}\t${d.rows}\t${dvSeq(d)}\t${d.path}")).mkString("\n")
  }

  private def decode(text: String): Manifest = {
    // header lines are `key=value` and never contain a tab; file lines
    // are `bucket<TAB>path` and always do (paths can contain '=' — the
    // __bucket=N partition segment — so the tab is the discriminator);
    // dv lines additionally lead with the literal `dv` token
    val lines = text.linesIterator.toSeq
    val (tabLines, headerLines) = lines.filter(_.nonEmpty).partition(_.contains('\t'))
    val (dvLines, fileLines) = tabLines.partition(_.startsWith("dv\t"))
    val header = headerLines.map { l =>
      val Array(k, v) = l.split("=", 2); k -> v
    }.toMap
    // both vintages decode: `bucket\tpath` (pre-seq) resolves the
    // sequence from the path's version segment; `bucket\tseq\tpath`
    // carries it explicitly (paths start with '/' or a scheme, never a
    // bare integer field, so the arity is unambiguous)
    val files = fileLines.map { l =>
      l.split("\t", 3) match {
        case Array(b, s, p) if s.forall(_.isDigit) =>
          FileEntry(b.toLong, p, s.toLong)
        case _ =>
          val Array(b, p) = l.split("\t", 2)
          FileEntry(b.toLong, p, seqOfPath(p).getOrElse(0L))
      }
    }
    val dvs = dvLines.map { l =>
      l.split("\t", 5) match {
        case Array(_, b, r, s, p) if s.forall(_.isDigit) =>
          DvEntry(b.toLong, r.toLong, p, s.toLong)
        case _ =>
          val Array(_, b, r, p) = l.split("\t", 4)
          // a legacy dv is newer than every file in its bucket by the
          // pre-seq protocol (any later file write materialized it), so
          // an unparseable path safely defaults to "applies to all"
          DvEntry(b.toLong, r.toLong, p, seqOfPath(p).getOrElse(Long.MaxValue))
      }
    }
    // Self-consistency clamp: no entry's commit sequence can exceed the
    // version of a manifest that lists it (the commit that wrote it IS a
    // version <= this one). A larger value is path-derived garbage from a
    // legacy shallow clone that committed at v0/v1 while CARRYING source
    // paths (a carried `data/v5-…` file decodes to seq 5 while the
    // clone's own dvs decode to seq 1 — the dv would mask nothing and
    // deleted rows would resurface). Restore the pre-seq semantics those
    // vintages were written under: such files drop to seq 0 (every dv
    // masks them) and such dvs rise to applies-to-all.
    val version = header("version").toLong
    val safeFiles =
      files.map(f => if (f.seq > version) f.copy(seq = 0L) else f)
    val safeDvs =
      dvs.map(d => if (d.seq > version) d.copy(seq = Long.MaxValue) else d)
    Manifest(version, header("batchId").toLong,
      header.get("buckets").map(_.toInt), header.get("keyCol"), safeFiles,
      header.get("touched").map(t =>
        if (t.isEmpty) Set.empty[Long] else t.split(",").map(_.toLong).toSet),
      header.get("feed"),
      header.get("rename").toSeq.flatMap(_.split(",").toSeq.map { r =>
        val Array(p, l) = r.split(":", 2); (p, l)
      }),
      header.get("ts").map(_.toLong),
      header.get("partCol"),
      header.get("addcols").toSeq.flatMap(_.split(";").toSeq.map { e =>
        val Array(n, t) = e.split(":", 2); (n, t)
      }),
      header.get("dropcols").toSeq.flatMap(_.split(",").toSeq),
      header.get("schema"),
      safeDvs,
      header.get("defcols").toSeq.flatMap(_.split(";").toSeq.map { e =>
        val Array(n, d) = e.split(":", 2); (n, d)
      }),
      header.get("sortedBy"),
      header.get("dvInexact").contains("true"))
  }

  private def manifestVersions(root: String, store: TableStore): Seq[Long] =
    store.listNames(s"$root/_manifest")
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .map(n => n.stripPrefix("v").stripSuffix(".manifest").toLong)

  private[graft] def latestManifest(root: String): Option[Manifest] =
    latestManifest(root, TableStore.forPath(root))

  /** The raw committed manifest of `version`, None when vacuumed/never
    * committed — unlike [[snapshotManifest]] it does NOT require a
    * non-empty file list (a fully-deleted snapshot is a real version the
    * streaming tail must be able to walk past). */
  private[graft] def manifestAt(root: String, version: Long): Option[Manifest] = {
    val store = TableStore.forPath(root)
    val path = s"$root/_manifest/v$version.manifest"
    if (store.exists(path)) Some(decode(store.readString(path))) else None
  }

  /** All committed (un-vacuumed) manifest versions of a table. */
  private[graft] def committedVersions(root: String): Seq[Long] =
    manifestVersions(root, TableStore.forPath(root)).sorted

  /** TIMESTAMP time travel: the version current AS OF `tsMs` — the
    * newest version whose RUNNING-MAX commit timestamp is ≤ the ask
    * (commit clocks can skew across concurrent writers; the running max
    * keeps resolution monotone in version order, Delta's contract).
    * Loud when the ask predates the first stamped commit, and when the
    * chain predates timestamping entirely. */
  private[graft] def versionAtTimestamp(root: String, tsMs: Long): Long = {
    // one resolve = one walk of the committed chain; the DSv2 read path
    // resolves up to three times per query (inferSchema, the drained-
    // table schema fallback, the scan's lazy pin), so memoize per
    // (root, ask, chain head) — deterministic for a fixed chain
    val head = committedVersions(root).lastOption.getOrElse(
      throw new IllegalStateException(s"no committed manifest under $root"))
    // the head's own stamp in the key guards drop-and-recreate at the
    // same path reaching the same version number
    val headTs = manifestAt(root, head).flatMap(_.ts)
    if (tsMemo.size > 1024) tsMemo.clear()
    tsMemo.computeIfAbsent((root, tsMs, head, headTs),
      _ => versionAtTimestampUncached(root, tsMs))
  }

  private val tsMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, Option[Long]), Long]()

  private def versionAtTimestampUncached(root: String, tsMs: Long): Long = {
    val stamped = committedVersions(root)
      .flatMap(v => manifestAt(root, v)).flatMap(m => m.ts.map(m.version -> _))
    if (stamped.isEmpty)
      throw new IllegalStateException(
        s"table at $root has no timestamped commits — timestampAsOf needs a " +
          "post-timestamping table; use versionAsOf")
    val monotone = stamped.scanLeft((-1L, Long.MinValue)) {
      case ((_, runMax), (v, t)) => (v, math.max(runMax, t))
    }.tail
    monotone.takeWhile(_._2 <= tsMs).lastOption.map(_._1).getOrElse(
      throw new IllegalStateException(
        s"timestampAsOf $tsMs predates the first commit of $root " +
          s"(${monotone.head._2}) — nothing existed yet"))
  }

  /** Files to anchor a snapshot's SCHEMA on: its own files, or — when the
    * snapshot is FULLY DELETED (every key removed; an empty file list is
    * a real state) — the newest predecessor that still lists files, since
    * deletes never change the schema. Empty only for a table that never
    * held data. */
  private[graft] def schemaAnchor(root: String, m: Manifest): Seq[String] =
    if (m.files.nonEmpty) m.files.map(_.path)
    else committedVersions(root).filter(_ < m.version).reverse.iterator
      .flatMap(v => manifestAt(root, v))
      .find(_.files.nonEmpty).map(_.files.map(_.path)).getOrElse(Seq.empty)

  /** Reader-side feed heal: finalize a crashed writer's staged feed
    * rename for ONE version (idempotent — the same atomic rename the
    * next writer's healFeed would issue). A streaming subscriber calls
    * this before resolving a version's feed files so its executors read
    * the stable `_changes/v<N>` path, never a staged dir a concurrent
    * writer's heal could rename out from under the scheduled scan. */
  private[graft] def healFeedAt(root: String, version: Long): Unit = {
    val store = TableStore.forPath(root)
    for (m <- manifestAt(root, version); st <- m.feed) {
      val target = s"$root/_changes/v$version"
      if (!store.exists(target) && store.exists(s"$root/$st")) {
        try { store.rename(s"$root/$st", target); () }
        catch { case _: Exception => () } // maybe lost the heal race — verified below
        // swallowing an exception is only legitimate if SOMEONE healed:
        // a genuinely failed rename must not silently reopen the
        // staged-dir race this call exists to close
        if (!store.exists(target) && store.exists(s"$root/$st"))
          throw new IllegalStateException(
            s"could not finalize staged change feed $st -> _changes/v$version under $root")
      }
    }
  }

  private[graft] def latestManifest(root: String, store: TableStore): Option[Manifest] = {
    val versions = manifestVersions(root, store)
    if (versions.isEmpty) None
    else Some(decode(store.readString(s"$root/_manifest/v${versions.max}.manifest")))
  }

  /** The manifest header is a plain `key=value`-per-line, tab-discriminated
    * text codec with NO escaping (deliberately: diff-able, zero parser
    * deps) — so names that reach header VALUES must not contain the
    * codec's separators. Enforced at commit time, the one choke point:
    * a keyCol with a tab/newline, or a rename name with ':'/',' on top,
    * would otherwise encode a manifest that decodes wrong or not at all. */
  private def requireHeaderSafe(m: Manifest): Unit = {
    def bad(name: String, extra: String): Boolean =
      name.isEmpty || name.exists(c => c == '\t' || c == '\n' || c == '\r') ||
        name.exists(extra.contains(_))
    // keyCol is a (possibly composite) comma-separated spec: validate
    // each COMPONENT — empty components (stray commas) and codec
    // separators are refused; the commas between components are the
    // spec's own syntax
    for (k <- m.keyCol; c <- splitKeyCols(k))
      require(!bad(c, ""), s"key column '$c' contains a manifest separator (tab/newline) — " +
        "rename the column before using it as a lake key")
    for ((p, l) <- m.renames; n <- Seq(p, l))
      require(!bad(n, ":,"), s"renamed column '$n' contains a manifest separator " +
        "(tab/newline/':'/',') — such names cannot enter the rename mapping")
    for ((n, t) <- m.addedCols) {
      require(!bad(n, ":;,"), s"added column '$n' contains a manifest separator " +
        "(tab/newline/':'/';'/',') — such names cannot enter the add header")
      require(t.nonEmpty && !t.exists(c => c == ';' || c == '\t' || c == '\n' || c == '\r'),
        s"added column type '$t' contains a manifest separator (';'/tab/newline)")
    }
    for (n <- m.droppedCols)
      require(!bad(n, ","), s"dropped column '$n' contains a manifest separator " +
        "(tab/newline/',') — such names cannot enter the drop header")
    for ((n, d) <- m.defaults) {
      require(!bad(n, ":;"), s"defaulted column '$n' contains a manifest separator " +
        "(tab/newline/':'/';') — such names cannot enter the defaults header")
      require(d.nonEmpty && !d.exists(c => c == ';' || c == '\t' || c == '\n' || c == '\r'),
        s"DEFAULT literal '$d' contains a manifest separator (';'/tab/newline)")
    }
    for (p <- m.partCol)
      require(!bad(p, ""), s"partitionCol '$p' contains a manifest separator " +
        "(tab/newline) — rename the column before partitioning on it")
  }

  /** Atomic commit through the store's rename-if-absent: a racing writer
    * committing the same version loses and fails loudly — never a
    * silently merged/partial manifest. */
  private def commit(root: String, store: TableStore, m: Manifest): Unit = {
    requireHeaderSafe(m)
    // commit-time wall clock stamped here, the one choke point every
    // writer passes — the input to timestampAsOf time travel. Clock skew
    // between writers can make ts non-monotone across versions;
    // versionAtTimestamp resolves over the running max to stay sane.
    store.commitNew(s"$root/_manifest", s"v${m.version}.manifest",
      encode(m.copy(ts = Some(System.currentTimeMillis()))))
  }

  /** Bucket→file entries for every parquet part under a version dir. */
  private def listParquet(dataDir: String, store: TableStore): Seq[FileEntry] =
    store.walkFiles(dataDir).flatMap { p =>
      val name = p.substring(p.lastIndexOf('/') + 1)
      if (name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")) {
        val bucket = p.split("/").collectFirst {
          case seg if seg.startsWith(s"$BucketCol=") =>
            seg.stripPrefix(s"$BucketCol=").toLong
        }.getOrElse(throw new IllegalStateException(s"unbucketed data file $p"))
        Some(FileEntry(bucket, p))
      } else None
    }
}
