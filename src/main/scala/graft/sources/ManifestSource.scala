package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeFiltering, Statistics => V2Statistics}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, InsertableRelation, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.{ManifestStats, ManifestUpsertSink}
import graft.sinks.ManifestUpsertSink.{DvEntry, FileEntry}

/** `format("graft-manifest")` — the SQL surface for the
  * [[graft.sinks.ManifestUpsertSink]] lakehouse table: time travel, the
  * CDC feed, FILE-LEVEL DATA SKIPPING, and MERGE WRITES become
  * query-able without touching the Scala API.
  *
  * {{{
  *   spark.read.format("graft-manifest").load(root)                     // latest snapshot
  *   spark.read.format("graft-manifest").option("versionAsOf", 3).load(root)  // time travel
  *   spark.read.format("graft-manifest")                                 // ... by wall clock
  *     .option("timestampAsOf", "2026-08-15T06:00:00Z").load(root)       // (millis/ISO/date ok)
  *   spark.read.format("graft-manifest").option("changesOf", 3).load(root)    // batch 3's CDC feed
  *
  *   df.write.format("graft-manifest")                                  // batch MERGE (append mode)
  *     .option("orderCol", "seq").option("keyCol", "id")                // keyCol/buckets: new tables only
  *     .mode("append").save(root)
  *
  *   df.writeStream.format("graft-manifest")                            // exactly-once streaming MERGE
  *     .option("orderCol", "seq").option("keyCol", "id")
  *     .option("checkpointLocation", ckpt).start(root)
  *
  *   spark.readStream.format("graft-manifest").load(root)               // the table AS A STREAM:
  *                                                                      // snapshot, then follow upserts
  *   spark.readStream.format("graft-manifest")                          // CDC tail incl. deletes,
  *     .option("changes", "true").load(root)                            // version-granular offsets
  * }}}
  *
  * Writes are MERGES, not blind appends: both the batch path (a
  * [[org.apache.spark.sql.connector.write.V1Write]] delegating to
  * [[ManifestUpsertSink.upsertBatch]] — the write IS the committed
  * copy-on-write protocol, never a second implementation) and the
  * streaming path (a V1 [[org.apache.spark.sql.execution.streaming.Sink]]
  * whose `addBatch` hands the micro-batch id straight to the sink's
  * replay guard — the exactly-once foreachBatch contract, now behind
  * `writeStream.format`). Batch appends commit as AD-HOC writes — the
  * replay-guard sentinel leaves the streaming batch-id sequence
  * untouched, so a backfill save() can never shadow a live stream's
  * next micro-batch; `keyCol`/`buckets` are read from the committed
  * manifest for existing tables (contradicting options fail loudly)
  * and from options for a first write.
  * Overwrite/complete modes are rejected: MERGE semantics make them
  * ambiguous (truncate-and-load is a new table dir).
  *
  * Design: the connector's jobs are MANIFEST RESOLUTION — it maps
  * (root, options) to the committed file list through the same
  * [[ManifestUpsertSink.snapshotManifest]]/[[ManifestUpsertSink.changeFiles]]
  * path the Scala API uses (one resolution code path, the two surfaces
  * cannot drift) — and FILE PRUNING: the query's pushed filters are
  * evaluated against each file's manifest-recorded bucket and stats
  * sidecar ([[ManifestStats.mayMatch]]) before the list is handed to
  * Spark's own parquet [[ParquetTable]], so a key point-lookup reads one
  * bucket's files and a clustered range predicate reads only the
  * overlapping slices. Everything hard — vectorized reads, predicate
  * pushdown INSIDE the surviving files (row-group skipping), column
  * pruning, schema merge across evolved buckets — remains the stock
  * parquet scan's; `.explain` on a manifest read shows the ordinary
  * `PushedFilters`/`ReadSchema` of a parquet scan over exactly the
  * pruned subset of the snapshot's immutable files. The `__bucket`
  * partition directory never materializes a column: data files are
  * listed as leaves (no partition inference), and bucket assignment is
  * derivable from the key, exactly as the Scala reads treat it.
  *
  * Writes stay with the sink (MERGE needs the LWW/copy-on-write
  * protocol, not a blind append), matching the Delta-OSS-on-plain-store
  * split: connector = read surface, committer = the table's owner. */
final class ManifestSource extends TableProvider with DataSourceRegister
    with StreamSinkProvider with StreamSourceProvider {
  import ManifestSource._

  override def shortName(): String = "graft-manifest"

  /** The snapshot `inferSchema` resolved, keyed by its options — so
    * `getTable` on the SAME load() hands the scan the SAME resolution
    * instead of re-resolving lazily at first action. Without this, a
    * commit landing between schema inference and the first scan serves
    * data from a newer snapshot than the schema came from ("one snapshot
    * per load()" demands one resolve). Spark constructs a fresh provider
    * per load(), so the memo's lifetime IS the load. */
  @volatile private var inferred: Option[(java.util.Map[String, String], Resolved)] = None

  private def resolveMemo(options: CaseInsensitiveStringMap): Resolved = {
    val r = resolve(options)
    inferred = Some((options.asCaseSensitiveMap(), r))
    r
  }

  private def resolve(options: CaseInsensitiveStringMap): Resolved = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-manifest requires a table root: .load(<root>)"))
    Option(options.get("changesOf")).map(_.toLong) match {
      case Some(v) =>
        // the change feed is plain per-version parquet: no buckets, no
        // sidecar — delegate unpruned (feeds are O(changed rows) already)
        Resolved(ManifestUpsertSink.changeFiles(root, v).map(FileEntry(-1L, _)),
          Map.empty, None)
      case None if options.containsKey("schemaDDL")
          && ManifestUpsertSink.latestManifest(root).isEmpty =>
        // a catalog-created table before its first commit: a declared
        // schema, zero files — SELECT returns no rows, not an error
        Resolved(Seq.empty, Map.empty, None)
      case None if Option(options.get("versionAsOf")).exists(v =>
          v.toLongOption.isEmpty && ManifestUpsertSink.tagVersion(root, v).isEmpty &&
            ManifestUpsertSink.branchExists(root, v)) =>
        // `VERSION AS OF '<branch>'` — the branch HEAD, resolved as a
        // read of the branch's OWN root (its stats/colstats sidecars
        // live there; tags win on a name collision)
        val bOpts = new util.HashMap[String, String](options.asCaseSensitiveMap())
        bOpts.put("path",
          ManifestUpsertSink.branchRoot(root, options.get("versionAsOf")))
        bOpts.remove("versionAsOf")
        resolve(new CaseInsensitiveStringMap(bOpts))
      case None =>
        val m = snapshotAllowEmpty(root, resolveVersionOpt(root, options))
        Resolved(m.files, ManifestUpsertSink.loadStats(root, m.version),
          for (k <- m.keyCol; b <- m.buckets) yield (k, b), m.partCol, m.renames,
          m.addedCols, m.droppedCols, m.physSchema, m.dvs, m.defaults, m.sortedBy,
          m.dvInexact,
          // ANALYZE ... FOR COLUMNS census of THIS version, if any — the
          // CBO feed (renames would misbind names; go dark mid-evolution)
          if (m.renames.isEmpty) ManifestUpsertSink.loadColStats(root, m.version)
          else Map.empty)
    }
  }

  /** versionAsOf wins when both are given (they'd otherwise race);
    * timestampAsOf accepts epoch millis, an ISO-8601 instant, a
    * zone-less datetime (read as UTC), or a date (UTC midnight).
    * A non-numeric versionAsOf is a NAMED TAG (`VERSION AS OF
    * 'v-audit'`) — resolved through the table's tag refs, loud on a
    * miss. */
  private def resolveVersionOpt(root: String,
      options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("versionAsOf")).map(v =>
      v.toLongOption.getOrElse(
        ManifestUpsertSink.tagVersion(root, v).getOrElse(
          throw new IllegalArgumentException(
            s"versionAsOf '$v' is neither a version number, a tag, nor a branch of $root " +
              s"(have tags: ${ManifestUpsertSink.tags(root).keys.toSeq.sorted.mkString(", ")}; " +
              s"branches: ${ManifestUpsertSink.branches(root).mkString(", ")})"))))
      .orElse(
        Option(options.get("timestampAsOf")).map(t =>
          ManifestUpsertSink.versionAtTimestamp(root, parseTsMs(t))))

  private def parseTsMs(t: String): Long = {
    def attempt(f: => Long): Option[Long] =
      try Some(f) catch { case _: RuntimeException => None }
    attempt(t.toLong)
      .orElse(attempt(java.time.Instant.parse(t).toEpochMilli))
      .orElse(attempt(java.time.LocalDateTime.parse(t)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli))
      .orElse(attempt(java.time.LocalDate.parse(t)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli))
      .getOrElse(throw new IllegalArgumentException(
        s"timestampAsOf '$t' is not epoch millis, an ISO-8601 instant, " +
          "a datetime (read as UTC), or a date (UTC midnight)"))
  }

  /** Snapshot resolution that treats a FULLY-DELETED snapshot as a real,
    * zero-row table (the SQL/stream surfaces' semantics — a drained table
    * SELECTs empty and keeps streaming) rather than the Scala read API's
    * loud "lists no files". */
  private def snapshotAllowEmpty(root: String,
      version: Option[Long]): ManifestUpsertSink.Manifest =
    version.map(v => ManifestUpsertSink.manifestAt(root, v).getOrElse(
        throw new IllegalStateException(
          s"version $v not committed (or vacuumed) under $root")))
      .orElse(ManifestUpsertSink.latestManifest(root))
      .getOrElse(throw new IllegalStateException(s"no committed manifest under $root"))

  /** A write to a not-yet-committed table (signalled by the `keyCol`
    * option) has no schema to infer — a catalog-created table declares
    * its DDL (`schemaDDL`, written by CREATE TABLE), a plain first
    * `save()` gets the empty struct + the ACCEPT_ANY_SCHEMA capability;
    * reads of an empty un-declared root keep failing loudly in
    * resolve(). */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    var keyInfo: Option[String] = Option(options.get("keyCol"))
    val base =
      if (options.containsKey("keyCol")
          && Option(options.get("path")).exists(
            ManifestUpsertSink.latestManifest(_).isEmpty))
        Option(options.get("schemaDDL")).map(StructType.fromDDL).getOrElse(new StructType())
      else {
        val resolved = resolveMemo(options)
        keyInfo = keyInfo.orElse(resolved.keyInfo.map(_._1))
        resolved.physSchema match {
          case Some(stamp) =>
            // the snapshot's COMMITTED schema stamp: planning reads ZERO
            // parquet footers (the fallback below walks every footer —
            // an O(files) planning cost a 100-TB table must not pay per
            // load), and a fully-deleted snapshot keeps its schema with
            // no anchor juggling. The stamp is PHYSICAL (union, possibly
            // a superset whose surplus names are all rename-retired or
            // dropped); the SQL surface speaks logical names, so the
            // full evolution fold applies exactly as on the read path.
            applyEvolutionSchema(StructType.fromDDL(stamp), resolved)
          case None =>
            val paths =
              if (resolved.files.nonEmpty || options.containsKey("changesOf"))
                resolved.files.map(_.path)
              else {
                // fully-deleted UNSTAMPED snapshot: anchor the schema on
                // the newest version that still lists files — deletes
                // don't change schema
                val root = options.get("path")
                ManifestUpsertSink.schemaAnchor(root,
                  snapshotAllowEmpty(root, resolveVersionOpt(root, options)))
              }
            if (paths.isEmpty)
              Option(options.get("schemaDDL")).map(StructType.fromDDL).getOrElse(new StructType())
            else
              // pre-stamp vintages: the union FOOTER schema, then the
              // same evolution fold
              applyEvolutionSchema(parquetTable(options, paths, None).schema,
                resolved)
        }
      }
    // the key column is non-nullable BY CONTRACT — it is the merge/bucket
    // key every verb routes on, and the row identity the SQL row-level
    // rewrites (UPDATE/MERGE INTO) require to be non-null. Parquet
    // inference defaults every field to nullable; correcting it here
    // makes the whole SQL surface see the real invariant (and INSERTs of
    // an actually-null key fail at the store-assignment check instead of
    // silently hashing the null).
    keyInfo.filter(_ => !options.containsKey("changesOf"))
      .map { spec =>
        val keySet = spec.split(",").map(_.trim).toSet
        StructType(base.fields.map(f =>
          if (keySet(f.name)) f.copy(nullable = false) else f))
      }
      .getOrElse(base)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    // reuse inferSchema's resolution when this is the same load() (same
    // options): the table's schema and its scans then describe ONE
    // snapshot even if a commit lands in between. Resolution stays lazy
    // otherwise — the write path must construct the table before the
    // first commit exists
    val resolveFn: () => Resolved = inferred match {
      case Some((opts, r)) if opts == options.asCaseSensitiveMap() => () => r
      case _ => () => resolve(options)
    }
    new ManifestTable(options, resolveFn, schema)
  }

  /** V1 streaming sink: the exactly-once manifest MERGE behind
    * `writeStream.format("graft-manifest")` — `addBatch` hands Spark's
    * micro-batch id to the sink's replay guard, so checkpoint-recovery
    * redeliveries are no-ops, exactly the foreachBatch contract. */
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append() || outputMode == OutputMode.Update(),
      s"graft-manifest streaming writes are MERGEs (append/update); got $outputMode")
    if (parameters.get("applyChanges").exists(_.toBoolean))
      return applyChangesSink(parameters)
    new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit =
        // re-root the streaming frame as a batch over the planned RDD
        // (the ForeachBatchSink pattern) — the MERGE takes several
        // actions on it, which a streaming-planned frame forbids
        appendBatch(new CaseInsensitiveStringMap(parameters.asJava),
          GraftBridge.asBatchDF(data), Some(batchId))
      override def toString: String = "graft-manifest-sink"
    }
  }

  /** CDC APPLY — exactly-once table REPLICATION as a sink: consume a
    * `changes = true` stream (or any frame carrying a `change` column),
    * reduce each key to its LAST action by `orderCol` (a key deleted at
    * v2 and re-inserted at v5 must survive — naive apply-all-upserts-
    * then-all-deletes would kill it), then MERGE the live rows and
    * DELETE the dead ones as ONE commit replay-guarded as batch id
    * 2·id+1 (odd, so the guard stays monotone over mirrors written when
    * the two committed as 2·id and 2·id+1 — the same protocol as the
    * materialized-view writer). The mirror keeps the order column like
    * any MERGE; `change` is consumed by the split. */
  private def applyChangesSink(parameters: Map[String, String]): Sink = {
    val root = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-manifest applyChanges requires a table root: .start(<root>)"))
    val orderCol = parameters.getOrElse("orderCol", throw new IllegalArgumentException(
      "applyChanges requires option(\"orderCol\", <col>) — the per-key change order " +
        "(the changes stream's _version, unless you know better)"))
    new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        val batch = GraftBridge.asBatchDF(data)
        require(batch.columns.contains("change"),
          "applyChanges input must carry the feed's `change` column " +
            "(inserted|updated|deleted) — select it through from the changes stream")
        val (keyCol, buckets) = ManifestSource.resolveKeyBuckets(root,
          parameters.get("keyCol"), parameters.get("buckets").map(_.toInt))
        val sink = new graft.sinks.ManifestUpsertSink(root, keyCol, buckets,
          ManifestSource.resolvePartCol(root, parameters.get("partCol")))
        // several actions follow (one touched-bucket probe per side, the
        // feed and data writes) — persist so the batch's lineage runs once
        val last = graft.sinks.JdbcUpsertSink
          .lastWriteWins(batch, keyCol, org.apache.spark.sql.functions.col(orderCol))
          .persist()
        try {
          val live = last.filter(org.apache.spark.sql.functions.col("change") =!= "deleted")
            .drop("change")
          val dead = last.filter(org.apache.spark.sql.functions.col("change") === "deleted")
            .select(keyCol.split(",").map(_.trim)
              .map(org.apache.spark.sql.functions.col).toSeq: _*)
          // a mergeOnRead MIRROR replicates with merge-on-read economics
          // too — O(changed rows) per micro-batch, the same routing as
          // every other write surface (over-cap batches fall back to
          // copy-on-write inside the sink)
          if (parameters.get("mergeOnRead").exists(_.toBoolean))
            sink.applyDeltaMergeOnRead(live, dead, orderCol, 2 * batchId + 1,
              parameters.get("dvMaxRowsPerBucket").map(_.toLong)
                .getOrElse(ManifestUpsertSink.DefaultDvMaxRowsPerBucket))
          else sink.applyDelta(live, dead, orderCol, 2 * batchId + 1)
        } finally { last.unpersist(); () }
      }
      override def toString: String = "graft-manifest-apply-changes-sink"
    }
  }

  /** V1 streaming source: the lake table as a stream — see
    * [[ManifestStreamSource]] for the offset/row contracts. The table
    * provider deliberately does NOT declare MICRO_BATCH_READ, so
    * `readStream` falls back to this V1 path (the same split as the
    * sink: V1 keeps the whole micro-batch as one DataFrame, which is all
    * a manifest-resolution source needs). */
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(ManifestStreamSource.resolveSchema(
      sqlContext, streamRoot(parameters), parameters.get("changes").exists(_.toBoolean))))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val root = streamRoot(parameters)
    val changes = parameters.get("changes").exists(_.toBoolean)
    new ManifestStreamSource(sqlContext, root, changes,
      parameters.get("startingVersion").map(_.toLong),
      parameters.get("maxVersionsPerTrigger").map(_.toLong).map { n =>
        require(n > 0, s"maxVersionsPerTrigger must be positive, got $n"); n
      },
      schema.getOrElse(ManifestStreamSource.resolveSchema(sqlContext, root, changes)))
  }

  private def streamRoot(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-manifest streaming reads require a table root: .load(<root>)"))
}

object ManifestSource {

  /** A resolved read: the snapshot's (bucket, path) entries, its stats
    * sidecar, when the manifest records them the (keyCol, buckets) pair
    * that enables bucket pruning, and the snapshot's live column-rename
    * mapping (physical → logical, fold order) the scan must apply. */
  final case class Resolved(files: Seq[FileEntry],
      stats: Map[String, ManifestStats.FileStats], keyInfo: Option[(String, Int)],
      partCol: Option[String] = None,
      renames: Seq[(String, String)] = Nil,
      addedCols: Seq[(String, String)] = Nil,
      droppedCols: Seq[String] = Nil,
      physSchema: Option[String] = None,
      dvs: Seq[DvEntry] = Nil,
      defaults: Seq[(String, String)] = Nil,
      sortedBy: Option[String] = None,
      dvInexact: Boolean = false,
      colStats: Map[String, ManifestStats.ColNdv] = Map.empty)

  /** The ONE write path both the batch V1Write and the streaming sink
    * share: MERGE `data` through [[ManifestUpsertSink.upsertBatch]] —
    * or, on a `mergeOnRead` table, through
    * [[ManifestUpsertSink.upsertMergeOnRead]]: INSERT INTO / save() /
    * writeStream then APPEND the batch's row images (+ a
    * sequence-stamped dv for any replaced keys) instead of rewriting
    * every touched bucket — on a 100-TB table a micro-batch costs
    * O(batch rows), not O(touched bucket bytes), and a pure-new-keys
    * append writes no dv at all. The per-bucket dv cap routes over-cap
    * batches back to the copy-on-write merge (materializing the debt),
    * so semantics are identical either way — reads, CDC, replay guard,
    * LWW all shared. keyCol/buckets come from the committed manifest
    * when the table exists (the sink's own guards catch contradicting
    * options) and from options on a first write; batch appends
    * synthesize the next batch id so each save() is its own
    * replay-guarded commit, while streaming passes Spark's micro-batch
    * id through for exactly-once. */
  private[graft] def appendBatch(options: CaseInsensitiveStringMap,
      data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Option[Long]): Unit = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-manifest writes require a table root: .save(<root>) / .start(<root>)"))
    val orderCol = Option(options.get("orderCol")).getOrElse(
      throw new IllegalArgumentException(
        "graft-manifest writes require option(\"orderCol\", <col>) — the LWW order"))
    val (keyCol, buckets) = resolveKeyBuckets(root,
      Option(options.get("keyCol")), Option(options.get("buckets")).map(_.toInt))
    val sink = new ManifestUpsertSink(root, keyCol, buckets,
      resolvePartCol(root, Option(options.get("partCol"))))
    // batch saves are OUTSIDE the streaming sequence: the sentinel keeps
    // the committed batch id untouched so a live stream's future
    // micro-batch ids are never shadowed (silent-replay data loss)
    val id = batchId.getOrElse(ManifestUpsertSink.AdHocBatch)
    if (Option(options.get("mergeOnRead")).exists(_.toBoolean))
      sink.upsertMergeOnRead(data.toDF(), orderCol, id,
        Option(options.get("dvMaxRowsPerBucket")).map(_.toLong)
          .getOrElse(ManifestUpsertSink.DefaultDvMaxRowsPerBucket))
    else
      sink.upsertBatch(data.toDF(), orderCol, id)
  }

  /** The ONE keyCol/buckets resolution every write surface shares:
    * committed values win, CONTRADICTING options fail loudly (a user who
    * passed keyCol/buckets believes the table has them), options bind a
    * first write. */
  private[graft] def resolveKeyBuckets(root: String,
      keyColOpt: Option[String], bucketsOpt: Option[Int]): (String, Int) = {
    val cur = ManifestUpsertSink.latestManifest(root)
    for (m <- cur; committed <- m.keyCol; asked <- keyColOpt if asked != committed)
      throw new IllegalArgumentException(
        s"table at $root is committed with keyCol=$committed; option keyCol=$asked contradicts it")
    for (m <- cur; committed <- m.buckets; asked <- bucketsOpt if asked != committed)
      throw new IllegalArgumentException(
        s"table at $root is committed with buckets=$committed; option buckets=$asked contradicts it")
    val keyCol = cur.flatMap(_.keyCol).orElse(keyColOpt)
      .getOrElse(throw new IllegalArgumentException(
        "first write to a graft-manifest table requires option(\"keyCol\", <col>)"))
    (keyCol, cur.flatMap(_.buckets).orElse(bucketsOpt).getOrElse(16))
  }

  /** The partition-column resolution every write surface shares, same
    * contract as keyCol/buckets: the committed layout wins, a
    * contradicting option fails loudly, an option binds a first write —
    * and a committed UNPARTITIONED table cannot silently become
    * partitioned (mixed layouts degrade pruning and retention). */
  private[graft] def resolvePartCol(root: String, opt: Option[String]): Option[String] = {
    val cur = ManifestUpsertSink.latestManifest(root)
    val committed = cur.flatMap(_.partCol)
    for (c <- committed; asked <- opt if asked != c)
      throw new IllegalArgumentException(
        s"table at $root is committed with partitionCol=$c; option partCol=$asked contradicts it")
    if (cur.nonEmpty && committed.isEmpty && opt.nonEmpty)
      throw new IllegalArgumentException(
        s"table at $root is committed UNPARTITIONED; partCol=${opt.get} would mix layouts — " +
          "recreate the table (or recluster) to adopt a partition column")
    committed.orElse(opt)
  }

  /** The stock parquet table over an explicit immutable file list — the
    * delegate that owns vectorized reads, pushdown, and schema merge.
    * LEGACY-vintage use only (schema inference needs footer reads):
    * stamped scans go through [[parquetScanBuilder]], whose file index
    * never touches the filesystem. */
  private def parquetTable(options: CaseInsensitiveStringMap, paths: Seq[String],
      schema: Option[StructType]): ParquetTable = {
    val opts = new util.HashMap[String, String](options.asCaseSensitiveMap())
    // snapshots may span schema vintages until compaction unifies them
    opts.putIfAbsent("mergeSchema", "true")
    ParquetTable(s"graft-manifest:${options.get("path")}",
      SparkSession.active, new CaseInsensitiveStringMap(opts),
      paths, schema, classOf[ParquetFileFormat])
  }

  /** The stock parquet SCAN BUILDER over an explicit file list, with the
    * file index served ENTIRELY from the manifest: the snapshot IS the
    * listing, and the commit-time stats sidecar carries each file's
    * exact on-disk length (recorded from the footer walk), so planning
    * performs ZERO filesystem listing. This is the lakehouse-format
    * contract (Delta/Iceberg plan from their own metadata for the same
    * reason) and the r16 scale finding: `InMemoryFileIndex` over N
    * explicit leaf paths costs a driver listing pass ∝ N per scan — at
    * 8k files that was ~10 s, paid TWICE (pushdown mirror + delegate),
    * which is exactly the dv_scan bench's "fold ≈ 2× plain parquet".
    * Files a legacy sidecar doesn't cover fall back to one
    * getFileStatus each (exact length is a SPLIT-CORRECTNESS input —
    * a short length would silently drop tail row groups). */
  private def parquetScanBuilder(options: CaseInsensitiveStringMap,
      paths: Seq[String], resolved: Resolved, schema: StructType)
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder = {
    val opts = new util.HashMap[String, String](options.asCaseSensitiveMap())
    opts.putIfAbsent("mergeSchema", "true")
    val statuses = paths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      // QUALIFIED paths are load-bearing: PartitioningAwareFileIndex
      // qualifies each root path before looking it up in leafFiles — an
      // unqualified key ('/tmp/...' vs 'file:/tmp/...') silently misses
      // and the scan reads ZERO files
      val fs = hp.getFileSystem(graft.sinks.TableStore.hadoopConf)
      val q = fs.makeQualified(hp)
      resolved.stats.get(p).map(_.bytes).filter(_ >= 0L) match {
        case Some(len) =>
          new org.apache.hadoop.fs.FileStatus(len, false, 1, 0L, 0L, q)
        case None => fs.getFileStatus(q)
      }
    }
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder(
      SparkSession.active, new ManifestFileIndex(SparkSession.active, statuses),
      schema, schema, new CaseInsensitiveStringMap(opts))
  }

  /** A [[org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex]]
    * whose leaf files come from the manifest, not a filesystem walk —
    * see [[parquetScanBuilder]]. Partition inference is empty by
    * construction (the delegate always received LEAF file paths; layout
    * columns live in the manifest, pruning happens before the delegate
    * ever sees a path). */
  private[sources] final class ManifestFileIndex(spark: SparkSession,
      statuses: Seq[org.apache.hadoop.fs.FileStatus])
      extends org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex(
        spark, Map.empty, None) {
    override val leafFiles: scala.collection.mutable.LinkedHashMap[
        org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileStatus] = {
      val m = scala.collection.mutable.LinkedHashMap
        .empty[org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileStatus]
      statuses.foreach(s => m.put(s.getPath, s))
      m
    }
    override val leafDirToChildrenFiles: Map[
        org.apache.hadoop.fs.Path, Array[org.apache.hadoop.fs.FileStatus]] =
      statuses.groupBy(_.getPath.getParent).view.mapValues(_.toArray).toMap
    override def partitionSpec(): org.apache.spark.sql.execution.datasources.PartitionSpec =
      org.apache.spark.sql.execution.datasources.PartitionSpec.emptySpec
    override def rootPaths: Seq[org.apache.hadoop.fs.Path] = statuses.map(_.getPath)
    override def refresh(): Unit = ()
  }

  /** Thin DSv2 table: schema and capabilities come from the parquet
    * delegate; `newScanBuilder` interposes the file-pruning builder and
    * `newWriteBuilder` delegates MERGE appends to the sink (V1Write —
    * the merge protocol needs the whole batch and its own jobs, exactly
    * the InsertableRelation contract). ACCEPT_ANY_SCHEMA: the sink owns
    * schema evolution (additive mergeSchema), and first writes CREATE
    * the table with the batch's schema. */
  private final class ManifestTable(options: CaseInsensitiveStringMap,
      resolveFn: () => Resolved, tableSchema: StructType)
      extends Table with SupportsRead with SupportsWrite with SupportsDelete
      with SupportsRowLevelOperations {

    /** SQL `UPDATE` / `MERGE INTO` (and predicate DELETEs beyond the key
      * shapes [[deleteWhere]] takes): Spark's row-level rewrites plan the
      * matching; [[ManifestDeltaOperation]] receives per-row verdicts and
      * applies them through the sink's committed MERGE/DELETE protocol. */
    override def newRowLevelOperationBuilder(
        info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
        : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
      () => new ManifestDeltaOperation(info.command(), options, () => pinned, tableSchema)

    // resolved ONCE, lazily: laziness lets the write path construct the
    // table before the first commit exists, while the memo pins every
    // scan of this loaded table to ONE snapshot — two actions on frames
    // derived from one `load()` must never read different versions
    private lazy val pinned: Resolved = resolveFn()

    override def name(): String = s"graft-manifest:${options.get("path")}"

    /** `DELETE FROM t WHERE <key> = v` / `IN (...)` — the sink's keyed
      * copy-on-write delete (CDC feed, replay guard and all) behind the
      * SQL verb. Only key-set predicates qualify: they are the shape the
      * bucket layout deletes without scanning, which is the point; any
      * other predicate makes Spark fail with "cannot delete", not
      * silently rewrite the table. */
    override def canDeleteWhere(filters: Array[Filter]): Boolean =
      keyDeleteSet(filters).isDefined

    override def deleteWhere(filters: Array[Filter]): Unit = {
      val keys = keyDeleteSet(filters).getOrElse(throw new IllegalArgumentException(
        s"graft-manifest DELETE supports key equality/IN predicates only, got " +
          filters.mkString(", ")))
      val spark = SparkSession.active
      val root = options.get("path")
      val cur = ManifestUpsertSink.latestManifest(root).getOrElse(return)
      val keyCol = cur.keyCol.getOrElse(throw new IllegalStateException(
        s"table at $root predates the keyCol header — delete via the Scala API"))
      val sink = new ManifestUpsertSink(root, keyCol, cur.buckets.getOrElse(16),
        cur.partCol)
      import org.apache.spark.sql.functions.col
      val keyDf = spark.createDataFrame(
        keys.toSeq.map(org.apache.spark.sql.Row(_)).asJava,
        StructType(Seq(tableSchema(keyCol))))
      // ad-hoc sentinel: a SQL DELETE is outside the streaming sequence —
      // a synthesized cur.batchId+1 would both shadow the stream's next
      // micro-batch AND silently no-op when racing another writer.
      // mergeOnRead tables commit a deletion-vector sidecar (manifest
      // edit + tiny key parquet; data files byte-identical) instead of
      // the copy-on-write bucket rewrite.
      if (Option(options.get("mergeOnRead")).exists(_.toBoolean))
        sink.deleteKeysMergeOnRead(keyDf.select(col(keyCol)),
          ManifestUpsertSink.AdHocBatch,
          Option(options.get("dvMaxRowsPerBucket")).map(_.toLong)
            .getOrElse(ManifestUpsertSink.DefaultDvMaxRowsPerBucket))
      else
        sink.deleteKeys(keyDf.select(col(keyCol)), ManifestUpsertSink.AdHocBatch)
    }

    /** The key set a filter conjunction pins, when it is exactly
      * key = v / key IN (...) (optionally AND-ed together). */
    private def keyDeleteSet(filters: Array[Filter]): Option[Set[Any]] = {
      val key = Option(options.get("keyCol"))
        .orElse(ManifestUpsertSink.latestManifest(options.get("path")).flatMap(_.keyCol))
        .getOrElse(return None)
      def setOf(f: Filter): Option[Set[Any]] = f match {
        case org.apache.spark.sql.sources.EqualTo(a, v) if a == key && v != null =>
          Some(Set(v))
        case org.apache.spark.sql.sources.In(a, vs) if a == key && vs != null =>
          Some(vs.filter(_ != null).toSet)
        case org.apache.spark.sql.sources.And(l, r) =>
          for (a <- setOf(l); b <- setOf(r)) yield a & b
        case _ => None
      }
      if (filters.isEmpty) None // DELETE without WHERE = truncate: refuse
      else filters.map(setOf).reduce((a, b) => for (x <- a; y <- b) yield x & y)
    }

    /** SQL `TRUNCATE TABLE`: a pure manifest edit — commit a version
      * listing no files (epoch and renames preserved, history time-
      * travels until vacuum; see [[ManifestUpsertSink.truncate]]). */
    override def truncateTable(): Boolean = {
      val root = options.get("path")
      val cur = ManifestUpsertSink.latestManifest(root).getOrElse(return true)
      val keyCol = cur.keyCol.getOrElse(throw new IllegalStateException(
        s"table at $root predates the keyCol header — truncate via the Scala API"))
      new ManifestUpsertSink(root, keyCol, cur.buckets.getOrElse(16), cur.partCol)
        .truncate()
      true
    }

    override def schema(): StructType = tableSchema

    override def capabilities(): util.Set[TableCapability] = {
      // BATCH_WRITE gates the v2 write plan; V1_BATCH_WRITE routes it to
      // the InsertableRelation fallback the MERGE protocol needs.
      // ACCEPT_ANY_SCHEMA ONLY while the table has no schema (a first
      // path-based save() CREATES it) — once a schema exists, Spark's
      // own output resolution aligns INSERT INTO positionally and
      // rejects mismatched appends at analysis time, which is exactly
      // the SQL contract (schema evolution goes through the sink API).
      val caps = util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE)
      if (tableSchema.isEmpty) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
      caps
    }

    override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
      new ManifestScanBuilder(caseInsensitiveOptions, pinned, tableSchema)

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation = new InsertableRelation {
          override def insert(data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
            if (overwrite) throw new UnsupportedOperationException(
              "graft-manifest writes are MERGEs; overwrite is ambiguous — " +
                "start a new table root for truncate-and-load")
            appendBatch(options, data, batchId = None)
          }
        }
      }
    }
  }

  /** The pruning scan builder. It mirrors every pushdown call onto a
    * delegate [[ParquetTable]] scan builder over the FULL file list (so
    * `pushedFilters`/column pruning behave exactly as stock parquet), and
    * at `build()` evaluates the pushed filters against each file's
    * bucket + stats: files provably filter-free are dropped before the
    * list is handed to Spark's parquet scan. The emitted [[ManifestScan]]
    * wraps that ordinary `ParquetScan` — Catalyst and Tungsten never see
    * a bespoke reader, only a shorter file list (plus the reader-side
    * [[Fold]] a snapshot mid-evolution needs) — and adds the two
    * planner contracts stock parquet can't supply here:
    * [[org.apache.spark.sql.connector.read.SupportsReportStatistics]]
    * (post-pruning size/rows from the manifest sidecar, so a small or
    * pruned side AUTO-BROADCASTS) and
    * [[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]]
    * (join-time IN-sets on the key/partition columns re-prune the file
    * list — the DPP analog for bucket layout). */
  private[sources] final class ManifestScanBuilder(options: CaseInsensitiveStringMap,
      resolved: Resolved, tableSchema: StructType)
      extends ScanBuilder with SupportsPushDownCatalystFilters
      with SupportsPushDownRequiredColumns
      with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
      with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

    // the mirror exists for its pushdown BEHAVIOR (filter split, column
    // pruning, pushedFilters reporting), which is schema-driven — an
    // empty file index keeps it free of any listing or status cost
    private val full = parquetScanBuilder(options, Nil, resolved, tableSchema)
    private var pushedExprs: Seq[Expression] = Nil
    private var required: Option[StructType] = None
    private var aggAnswer: Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] = None
    private var limit: Option[Int] = None

    /** FILE-LEVEL limit pruning: an UNORDERED `LIMIT n` is satisfied by
      * ANY n rows, so when no data filter is pushed (a filter makes a
      * file's matching-row count unknowable) the scan keeps only the
      * file-list prefix whose sidecar row counts cover `n` — at 100 TB,
      * `SELECT * FROM t LIMIT 10` opens one file instead of launching a
      * full-table scan's tasks. Declared PARTIALLY pushed (the default),
      * so Spark's own GlobalLimit still trims the exact row count;
      * ordered limits (TopN) never reach this path — a Sort between the
      * Limit and the relation blocks the pushdown. Files missing from
      * the sidecar decline (their row contribution is unknowable). */
    override def pushLimit(n: Int): Boolean = {
      // live deletion vectors make sidecar row counts an OVER-count: a
      // prefix "covering" n could hold fewer than n live rows — decline
      if (pushedExprs.nonEmpty || resolved.dvs.nonEmpty) return false
      limit = Some(n)
      true
    }

    override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
      pushedExprs = filters
      full.pushFilters(filters)
    }

    override def pushedFilters: Array[Predicate] = full.pushedFilters

    override def pruneColumns(requiredSchema: StructType): Unit = {
      required = Some(requiredSchema)
      full.pruneColumns(requiredSchema)
    }

    /** METADATA-ONLY aggregates: an unfiltered, ungrouped
      * COUNT(*) / COUNT(col) / MIN(col) / MAX(col) over the snapshot is
      * answered from the stats sidecar alone — zero data files opened, a
      * driver-local one-row scan — exactly Delta/Iceberg's metadata-only
      * query optimization, and at 100 TB the difference between a census
      * and a full-table read. Declared PARTIAL (Spark still runs its
      * final merge over the one row), so engine semantics — empty-input
      * NULLs for min/max, overflow checks — stay Spark's.
      *
      * CONSERVATIVE by the same rule as file skipping — any doubt
      * declines the push and the ordinary scan answers:
      *  - only with no pushed filters, no grouping, no live renames;
      *  - COUNT(*): every file must carry a sidecar row count;
      *  - COUNT(col): additionally that column's null count per file;
      *  - MIN/MAX(col): both bounds known in every file, and only for
      *    types whose sidecar domain reconstructs the exact Spark value
      *    (int/long/short/byte/date/timestamp/string). Floating point
      *    DECLINES: the sidecar widens ±0.0 bounds (a reported -0.0 for
      *    a true +0.0 min would be wrong) and drops NaN intervals. */
    override def supportCompletePushDown(
        aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
      false

    override def pushAggregation(
        aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
      import org.apache.spark.sql.connector.expressions.aggregate._
      import org.apache.spark.sql.types._
      if (pushedExprs.nonEmpty || aggregation.groupByExpressions.nonEmpty ||
          resolved.renames.nonEmpty || options.containsKey("changesOf")) return false
      val perFile = resolved.files.map(f => resolved.stats.get(f.path))
      if (perFile.exists(_.isEmpty)) return false // uncovered file: decline
      val fs = perFile.flatten
      def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
        e match {
          case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames.head)
          case _ => None
        }
      def dt(name: String): Option[DataType] =
        tableSchema.fields.find(_.name == name).map(_.dataType)
      // sidecar 'L'/'S' domain value -> the column's Spark-internal value
      def fromDomain(v: Any, t: DataType): Option[Any] = (v, t) match {
        case (l: Long, LongType) => Some(l)
        case (l: Long, IntegerType) => Some(l.toInt)
        case (l: Long, ShortType) => Some(l.toShort)
        case (l: Long, ByteType) => Some(l.toByte)
        case (l: Long, DateType) => Some(l.toInt) // days
        case (l: Long, TimestampType) => Some(l) // micros (sidecar-normalized)
        case (b: Array[Byte], StringType) =>
          Some(org.apache.spark.unsafe.types.UTF8String.fromBytes(b.clone()))
        case _ => None // incl. 'D' doubles: ±0.0 widening makes bounds inexact
      }
      def bound(name: String, isMin: Boolean): Option[(DataType, Any)] = for {
        t <- dt(name)
        // every file must bound the column (all-null or stat-less files decline)
        bounds <- Some(fs.map(_.cols.get(name).flatMap(c => if (isMin) c.min else c.max)))
        if bounds.forall(_.isDefined) && bounds.nonEmpty
        kinds = fs.flatMap(_.cols.get(name)).map(_.kind).distinct
        if kinds.size == 1
        best = bounds.flatten.reduce((a, b) =>
          if (isMin ^ (ManifestStats.cmpPublic(kinds.head, a, b) > 0)) a else b)
        v <- fromDomain(best, t)
      } yield (t, v)
      // live deletion vectors: COUNT(*) stays answerable — each dv'd key
      // exists exactly once in its bucket's data and in one dv file, so
      // sidecar rows minus manifest-recorded dv rows is exact. Everything
      // else declines: a dv'd row could hold the min/max or the non-null
      // census the per-file stats still count.
      val dvRows = resolved.dvs.map(_.rows).sum
      val answers: Seq[Option[(DataType, Any)]] =
        aggregation.aggregateExpressions.toSeq.map {
          // dvInexact: retention expired files under live dv entries, so
          // the subtraction would over-count — decline, the fold answers
          case _: CountStar if !resolved.dvInexact =>
            Some((LongType, fs.map(_.rows).sum - dvRows))
          case _ if resolved.dvs.nonEmpty => None
          // a column with a live DEFAULT is unanswerable from file stats:
          // physical nulls/absences READ as the default, so the sidecar's
          // null counts over-count and its min/max may miss the default
          // value entirely — decline, the ordinary (folding) scan answers
          case c: Count if !c.isDistinct =>
            for {
              n <- colOf(c.column)
              if tableSchema.fieldNames.contains(n)
              if !resolved.defaults.exists(_._1 == n)
              nulls <- Some(fs.map(_.cols.get(n).flatMap(_.nulls)))
              if nulls.forall(_.isDefined)
            } yield (LongType, fs.map(_.rows).sum - nulls.flatten.sum)
          case m: Min => colOf(m.column)
            .filterNot(n => resolved.defaults.exists(_._1 == n))
            .flatMap(bound(_, isMin = true))
          case m: Max => colOf(m.column)
            .filterNot(n => resolved.defaults.exists(_._1 == n))
            .flatMap(bound(_, isMin = false))
          case _ => None
        }
      if (answers.exists(_.isEmpty)) return false
      val schema = StructType(answers.flatten.zipWithIndex.map { case ((t, _), i) =>
        StructField(s"agg_$i", t, nullable = true)
      })
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        answers.flatten.map(_._2).toArray)
      aggAnswer = Some((schema, row))
      true
    }

    override def build(): Scan = aggAnswer match {
      case Some((schema, row)) =>
        new ManifestAggScan(options.get("path"), resolved.files.size, schema, row)
      case None =>
        val v1: Seq[Filter] = pushedExprs.flatMap(GraftBridge.translateFilter)
        val pruned = pruneEntries(resolved.files, resolved, tableSchema, v1)
        val kept = limit match {
          case Some(n) if pushedExprs.isEmpty &&
              pruned.forall(e => resolved.stats.contains(e.path)) =>
            // prefix whose sidecar row counts cover n (see pushLimit)
            var acc = 0L
            pruned.takeWhile { e =>
              val take = acc < n; acc += resolved.stats(e.path).rows; take
            }
          case _ => pruned
        }
        val keptBuckets = kept.map(_.bucket).toSet
        new ManifestScan(options, resolved, tableSchema, kept, pushedExprs, required,
          resolved.dvs.filter(d => keptBuckets(d.bucket)))
    }
  }

  /** Source-side opt-in for STORAGE-PARTITIONED-JOIN layout (the Iceberg
    * `preserve-data-grouping` model): with this AND Spark's
    * `spark.sql.sources.v2.bucketing.enabled` both true, keyed manifest
    * scans plan one InputPartition per bucket and report
    * `KeyGroupedPartitioning`, letting same-layout lake joins run with
    * zero shuffle — at the price of capping each scan's task count at
    * the bucket count, which is why it is not the default. */
  val PreserveGroupingConf = "spark.sql.graft.preserveDataGrouping"

  /** The SPJ-mode Batch: the delegate's size-planned splits regrouped
    * into one [[KeyedFilePartition]] per bucket. VALUE equality on
    * (delegate batch, buckets) — `BatchScanExec.equals` compares `batch`
    * objects, and DPP's broadcast-exchange reuse (`sameResult`) depends
    * on two independently-built scans of one snapshot comparing equal;
    * an identity-equal anonymous Batch here was MEASURED to silently
    * kill that reuse (the DPP filter degrades to `true`). */
  private final class GroupedBatch(
      private val inner: org.apache.spark.sql.connector.read.Batch,
      private val bucketIds: Seq[Long])
      extends org.apache.spark.sql.connector.read.Batch {
    override def planInputPartitions()
        : Array[org.apache.spark.sql.connector.read.InputPartition] = {
      import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
      // splits of one file share a bucket; a bucket whose files a runtime
      // filter pruned still plans (empty) so the reported partition count
      // stays true
      val files: Array[PartitionedFile] = inner.planInputPartitions()
        .flatMap { case fp: FilePartition => fp.files }
      val byBucket = files.groupBy(f => bucketOfPath(f.filePath.toString))
      bucketIds.zipWithIndex.map { case (b, i) =>
        // splits of one file concatenate in offset order, so a bucket
        // whose single key-sorted file was size-split still reads in key
        // order — the SupportsReportOrdering contract depends on it
        new KeyedFilePartition(i,
          byBucket.getOrElse(b, Array.empty)
            .sortBy(f => (f.filePath.toString, f.start)),
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](b.toInt)))
      }.toArray
    }
    override def createReaderFactory()
        : org.apache.spark.sql.connector.read.PartitionReaderFactory =
      inner.createReaderFactory()
    override def equals(other: Any): Boolean = other match {
      case o: GroupedBatch => inner == o.inner && bucketIds == o.bucketIds
      case _ => false
    }
    override def hashCode(): Int = java.util.Objects.hash(inner, bucketIds)
  }

  /** A size-planned file split pinned to its bucket's partition key —
    * the `HasPartitionKey` unit [[ManifestScan]]'s SPJ mode plans, one
    * per bucket. Extends the stock FilePartition so the delegate parquet
    * reader factory consumes it unchanged. */
  private final class KeyedFilePartition(idx: Int,
      files0: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
      key: org.apache.spark.sql.catalyst.InternalRow)
      extends org.apache.spark.sql.execution.datasources.FilePartition(idx, files0)
      with org.apache.spark.sql.connector.read.HasPartitionKey {
    override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
  }

  /** The one-row, driver-local answer to a sidecar-covered aggregate:
    * plans as a LocalTableScan — zero tasks, zero data-file I/O. */
  private[graft] final class ManifestAggScan(path: String, nFiles: Int,
      schema: StructType, row: org.apache.spark.sql.catalyst.InternalRow)
      extends org.apache.spark.sql.connector.read.LocalScan {
    override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = Array(row)
    override def readSchema(): StructType = schema
    override def description(): String =
      s"graft-manifest(sidecar-aggregate over $nFiles files) $path"
  }

  /** The rename fold at SCHEMA level — the exact StructType counterpart
    * of [[ManifestUpsertSink.applyRenames]]'s column fold over a merged
    * (physical-name) footer schema: a pair whose physical and logical
    * names are both present coalesces (drop the physical field, the
    * logical one keeps its slot), a physical-only pair renames in place. */
  private[graft] def applyRenamesSchema(st: StructType,
      renames: Seq[(String, String)]): StructType =
    renames.foldLeft(st) { case (s, (phys, logical)) =>
      val names = s.fieldNames.toSet
      if (names(phys) && names(logical))
        StructType(s.fields.filterNot(_.name == phys))
      else if (names(phys))
        StructType(s.fields.map(f => if (f.name == phys) f.copy(name = logical) else f))
      else s
    }

  /** The FULL evolution fold at SCHEMA level — the StructType counterpart
    * of [[ManifestUpsertSink.applyEvolution]]'s column fold: renames
    * first, then logically-DROPPED columns filtered away (their bytes
    * stay physical until a rewrite), then metadata-only ADDED columns
    * appended as nullable typed fields where no file carries them yet. */
  private[graft] def applyEvolutionSchema(st: StructType, r: Resolved): StructType =
    applyEvolutionSchema(st, r.renames, r.addedCols, r.droppedCols, r.defaults)

  private[graft] def applyEvolutionSchema(st: StructType,
      renames: Seq[(String, String)], addedCols: Seq[(String, String)],
      droppedCols: Seq[String],
      defaults: Seq[(String, String)] = Nil): StructType = {
    val renamed = applyRenamesSchema(st, renames)
    val droppedSet = droppedCols.toSet
    val dropped = StructType(renamed.fields.filterNot(f => droppedSet(f.name)))
    val defaultOf = defaults.toMap
    addedCols.foldLeft(dropped) { case (s, (n, ddl)) =>
      val base = org.apache.spark.sql.types.StructField(
        n, org.apache.spark.sql.types.DataType.fromDDL(ddl), nullable = true)
      val field = defaultOf.get(n) match {
        // a NOT-NULL-DEFAULT add: the fold always produces the literal
        // where bytes are absent/null, so the column IS non-nullable —
        // and the CURRENT/EXISTS default metadata lets Spark's own
        // INSERT resolution fill omitted columns with the declared
        // literal (the SUPPORT_COLUMN_DEFAULT_VALUE contract)
        case Some(dsql) =>
          val md = new org.apache.spark.sql.types.MetadataBuilder()
            .putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
              .CURRENT_DEFAULT_COLUMN_METADATA_KEY, dsql)
            .putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
              .EXISTS_DEFAULT_COLUMN_METADATA_KEY, dsql)
            .build()
          base.copy(nullable = false, metadata = md)
        case None => base
      }
      if (s.fieldNames.contains(n))
        // post-add files carry the column physically; a defaulted add
        // still re-types the FIELD (non-null + metadata) on top
        StructType(s.fields.map(f => if (f.name == n) field else f))
      else StructType(s.fields :+ field)
    }
  }

  /** Per LOGICAL column, its coalesce-ordered physical source names —
    * derived by replaying the rename fold SYMBOLICALLY over the name
    * universe (current logical names ∪ every retired physical source),
    * so chained renames (`a→b` then `b→c`) resolve to `c ← (c, b, a)`
    * exactly as the Scala path's nested coalesce does. Names with a
    * single source (themselves) are untouched columns. */
  private[graft] def renameSources(tableSchema: StructType,
      renames: Seq[(String, String)]): Map[String, Seq[String]] = {
    val universe = tableSchema.fieldNames.toSeq ++ renames.map(_._1)
    var m: Map[String, Seq[String]] = universe.distinct.map(n => n -> Seq(n)).toMap
    for ((phys, logical) <- renames if m.contains(phys)) {
      m =
        if (m.contains(logical)) m.updated(logical, m(logical) ++ m(phys)) - phys
        else m.updated(logical, m(phys)) - phys
    }
    m
  }

  /** ESTIMATE-GRADE table min/max of a column from the per-file stats
    * sidecar, as the catalyst-INTERNAL value catalyst `ColumnStat`
    * expects — the planner-statistics companion of the ndv census.
    * Laxer than the metadata-only aggregate's `bound` (which must be
    * EXACT and so declines doubles and dv'd snapshots): a CBO estimate
    * tolerates ±0.0-widened float bounds and deleted extremes; it must
    * only never report an interval NARROWER than the data (that could
    * zero a join estimate that has rows). Any uncovered file or mixed
    * sidecar kind declines. */
  private[sources] def sidecarMinMax(kept: Seq[FileEntry], resolved: Resolved,
      tableSchema: StructType, name: String, isMin: Boolean): Option[Any] = {
    import org.apache.spark.sql.types._
    for {
      f <- tableSchema.fields.find(_.name == name)
      perFile <- Some(kept.map(e => resolved.stats.get(e.path)))
      if perFile.nonEmpty && perFile.forall(_.isDefined)
      bounds = perFile.flatten.map(_.cols.get(name).flatMap(c =>
        if (isMin) c.min else c.max))
      if bounds.forall(_.isDefined)
      kinds = perFile.flatten.flatMap(_.cols.get(name)).map(_.kind).distinct
      if kinds.size == 1
      best = bounds.flatten.reduce((a, b) =>
        if (isMin ^ (ManifestStats.cmpPublic(kinds.head, a, b) > 0)) a else b)
      v <- (best, f.dataType) match {
        case (l: Long, LongType) => Some(l)
        case (l: Long, IntegerType) => Some(l.toInt)
        case (l: Long, ShortType) => Some(l.toShort)
        case (l: Long, ByteType) => Some(l.toByte)
        case (l: Long, DateType) => Some(l.toInt) // days
        case (l: Long, TimestampType) => Some(l) // micros
        case (d: Double, DoubleType) => Some(d)
        case (d: Double, FloatType) => Some(d.toFloat)
        case _ => None // strings: join estimation ignores their bounds
      }
    } yield v
  }

  /** The DSv2 column-statistics map the scan serves from an
    * `ANALYZE ... FOR COLUMNS` census: ndv + null count from the
    * colstats sidecar, min/max from the per-file sidecar (post-pruning,
    * catalyst-internal values). min/max is REQUIRED alongside ndv —
    * join estimation intersects the key ranges, and a numeric key with
    * unknown bounds reads as an EMPTY interval (0-row estimate,
    * measured), which would make the ndv census WORSEN plans.
    * Estimate-lax: dv'd extremes and ±0.0-widened float bounds are fine
    * here (planner estimates, never answers). */
  private def colStatsMap(kept: Seq[FileEntry], resolved: Resolved,
      tableSchema: StructType, out: Set[String])
      : java.util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.types._
    val m = new java.util.HashMap[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    for ((n, cs) <- resolved.colStats if out.contains(n)) {
      val mn = sidecarMinMax(kept, resolved, tableSchema, n, isMin = true)
      val mx = sidecarMinMax(kept, resolved, tableSchema, n, isMin = false)
      // Join estimation intersects VALUE INTERVALS for range-comparable
      // types and reads unknown bounds as an EMPTY interval (0-row join
      // estimate). When the sidecar can't produce bounds for such a
      // column (missing per-file stats, mixed kinds), serving ndv alone
      // would make the census actively WORSEN plans — skip the column
      // entirely. Strings are safe without bounds (estimation ignores
      // their intervals), so their ndv still serves.
      val needsBounds = tableSchema.fields.find(_.name == n).exists(_.dataType match {
        case _: NumericType | DateType | TimestampType | BooleanType => true
        case _ => false
      })
      if (!needsBounds || (mn.isDefined && mx.isDefined))
      m.put(org.apache.spark.sql.connector.expressions.Expressions.column(n),
        new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
          override def distinctCount(): java.util.OptionalLong =
            java.util.OptionalLong.of(cs.ndv)
          override def nullCount(): java.util.OptionalLong =
            java.util.OptionalLong.of(cs.nulls)
          override def min(): java.util.Optional[Object] =
            mn.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
              .getOrElse(java.util.Optional.empty[Object]())
          override def max(): java.util.Optional[Object] =
            mx.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
              .getOrElse(java.util.Optional.empty[Object]())
          // the ANALYZE-time equi-height histogram (skew selectivity:
          // a hot key's equality estimate is its bins' MASS, not 1/ndv)
          // — Spark's transformV2Stats folds it into catalyst ColumnStat
          override def histogram(): java.util.Optional[
              org.apache.spark.sql.connector.read.colstats.Histogram] =
            cs.hist.map { h =>
              val binArr = h.bins.map { case (lo0, hi0, nd) =>
                new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                  override def lo(): Double = lo0
                  override def hi(): Double = hi0
                  override def ndv(): Long = nd
                }
              }.toArray
              java.util.Optional.of(
                new org.apache.spark.sql.connector.read.colstats.Histogram {
                  override def height(): Double = h.height
                  override def bins(): Array[
                      org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                    binArr
                }: org.apache.spark.sql.connector.read.colstats.Histogram)
            }.getOrElse(java.util.Optional.empty())
        })
    }
    m
  }

  /** The reader-side FOLD of a snapshot mid-evolution, built once at
    * scan construction and only when a live rename, a NOT-NULL-DEFAULT
    * add or a kept deletion vector exists. SQL reads then work right
    * after a metadata-only RENAME COLUMN or a merge-on-read DELETE — no
    * compaction prerequisite.
    *
    *  - RENAMES: the delegate parquet scan reads an EXPANDED physical
    *    schema (each renamed logical column plus all its retired source
    *    names, typed alike; mergeSchema nulls the vintages a file lacks)
    *    and the reader folds them back, `logical = coalesce(newest, ...,
    *    oldest)` — exactly the Scala path's
    *    [[ManifestUpsertSink.applyRenames]], applied inside the reader so
    *    Catalyst sees only logical names. Within one FILE only one
    *    vintage is ever non-null (upsertBatch refuses resurrected
    *    physical names), so the coalesce is a per-file column pick.
    *    Pushed filters on a renamed column cannot bind inside old-vintage
    *    files (the physical name differs), which is safe: file-source
    *    data filters are always re-evaluated by the retained post-scan
    *    Filter, now over the folded rows.
    *  - DEFAULTS: absent or null bytes of a NOT-NULL-DEFAULT column read
    *    as the declared literal.
    *  - DELETION VECTORS: rows whose key tuple a newer dv lists drop. */
  private final class Fold(resolved: Resolved, tableSchema: StructType,
      logical: StructType, kept: Seq[FileEntry], dvs: Seq[DvEntry]) {

    /** The columns the READER must produce: the query's pruned output,
      * plus — only while deletion vectors are live — any key component
      * the pruning dropped (the per-row dv filter tests the key tuple;
      * the surplus is projected away after the filter). */
    private val fetched: StructType =
      if (dvs.isEmpty) logical
      else {
        val have = logical.fieldNames.toSet
        val keyNames = resolved.keyInfo.toSeq.flatMap(_._1.split(",").map(_.trim))
        StructType(logical.fields ++
          keyNames.filterNot(have).map(n => tableSchema(tableSchema.fieldIndex(n))))
      }

    private val sources: Map[String, Seq[String]] =
      renameSources(tableSchema, resolved.renames)
    private def expand(st: StructType): StructType = StructType(st.fields.flatMap(f =>
      sources.getOrElse(f.name, Seq(f.name))
        .map(s => org.apache.spark.sql.types.StructField(s, f.dataType, nullable = true))))
    /** The delegate's table and required schemas, in physical names. */
    val physTable: StructType = expand(tableSchema)
    val physRequired: StructType = expand(fetched)
    // positions of each fetched field's sources within the expanded row
    private val positions: Seq[Seq[Int]] = {
      var i = -1
      fetched.fields.toSeq.map(f =>
        sources.getOrElse(f.name, Seq(f.name)).map { _ => i += 1; i })
    }

    /** The per-row DELETION-VECTOR filter inputs, resolved ONCE at scan
      * construction: key positions/types within the fetched row and a
      * REAL Spark broadcast of the deleted key tuples GROUPED BY BUCKET
      * (with each key's dv commit sequence) plus the kept data files'
      * own sequences. One executor-resident copy regardless of task
      * count, and each reader loads ONLY its partition's buckets' keys —
      * the factory closure carries just the broadcast handle, so scan
      * setup cost is flat in bucket count (the r14 scale finding: the
      * old global driver array shipped every bucket's keys in every
      * task closure — ~67M keys at 1024 buckets × the 64k cap).
      *
      * Keys are FLOAT-NORMALIZED (−0.0 → 0.0, canonical NaN) on both the
      * collection side here and the per-row projection in the reader, so
      * byte equality agrees with the sink-side SQL anti-join on
      * float/double key components. The keys come from the sink's own
      * dv-key reader, which maps old-spelling dv files onto the current
      * logical key; `input_file_name` ties each key back to its dv
      * entry's (bucket, seq). */
    private val dv: Option[(Seq[Int], Seq[org.apache.spark.sql.types.DataType],
        org.apache.spark.broadcast.Broadcast[DvFoldData])] =
      if (dvs.isEmpty) None
      else {
        val keyNames = resolved.keyInfo.getOrElse(throw new IllegalStateException(
          "deletion vectors on a table without a keyCol header"))._1
          .split(",").map(_.trim).toSeq
        val keyIdx = keyNames.map(fetched.fieldIndex)
        val keyTypes = keyIdx.map(fetched(_).dataType)
        val spark = SparkSession.active
        import org.apache.spark.sql.functions.{col, input_file_name}
        val dvKeys = ManifestUpsertSink.readDvKeys(spark, resolved.physSchema,
          resolved.renames, keyNames, dvs.map(_.path))
          .select(keyNames.zip(keyTypes).map { case (n, t) => col(n).cast(t) } :+
            input_file_name().as("__dvfile"): _*)
        val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
          .create(keyTypes.zipWithIndex.map { case (t, i) =>
            GraftBridge.normalizeFloats(
              org.apache.spark.sql.catalyst.expressions.BoundReference(
                i, t, nullable = true))
          })
        val metaByPath: Map[String, (Long, Long)] =
          dvs.map(d => pathKey(d.path) -> ((d.bucket, d.seq))).toMap
        val n = keyTypes.length
        // toRdd rows are MUTABLE buffer views — copy on the executor
        // before collect, or every key in a partition aliases the last
        val rows = dvKeys.queryExecution.toRdd.map(_.copy()).collect()
        val byBucket: Map[Long, Array[(Long, Array[Byte])]] = rows
          .map { r =>
            val file = r.getUTF8String(n).toString
            val (bucket, seq) = metaByPath.getOrElse(pathKey(file),
              throw new IllegalStateException(
                s"dv key file $file matches no manifest dv entry — path-normalization bug"))
            (bucket, (seq, proj(r).copy().getBytes))
          }
          .groupBy(_._1).map { case (b, arr) => b -> arr.map(_._2) }
        val fileSeq: Map[String, Long] = {
          val dvBuckets = dvs.map(_.bucket).toSet
          kept.filter(e => dvBuckets(e.bucket))
            .map(e => pathKey(e.path) -> e.seq).toMap
        }
        val bc = spark.sparkContext.broadcast(DvFoldData(byBucket, fileSeq))
        DvFoldProbe.totalKeys = rows.length
        Some((keyIdx, keyTypes, bc))
      }

    /** DEFAULT literals of NOT-NULL-DEFAULT added columns, resolved to
      * their INTERNAL values once at scan construction (fetched-field
      * index → value): the per-row fold coalesces absent/null bytes to
      * the literal, so pre-add vintages and null-carrying files read the
      * declared default with zero rewrite. */
    private val defaultVals: Map[Int, Any] =
      if (resolved.defaults.isEmpty) Map.empty
      else {
        val byName = resolved.defaults.toMap
        val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
        fetched.fields.zipWithIndex.flatMap { case (f, i) =>
          byName.get(f.name).map { dsql =>
            val l = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseExpression(dsql)
              .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal]
            i -> org.apache.spark.sql.catalyst.expressions.Cast(
              l, f.dataType, Some(tz)).eval(null)
          }
        }.toMap
      }

    /** The delegate's reader factory wrapped in the fold. */
    def factory(delegate: org.apache.spark.sql.connector.read.PartitionReaderFactory)
        : org.apache.spark.sql.connector.read.PartitionReaderFactory = {
      val factory = new RenameFoldReaderFactory(delegate,
        fetched.fields.map(_.dataType).toSeq, positions, dv, logical.length, defaultVals)
      // spec probe: the factory IS the task closure's dv payload — its
      // serialized size must stay flat in table-wide dv volume (the keys
      // travel once per executor via the broadcast, not per task)
      if (dv.nonEmpty) DvFoldProbe.lastFactoryBytes = {
        val bos = new java.io.ByteArrayOutputStream()
        val oos = new java.io.ObjectOutputStream(bos)
        oos.writeObject(factory); oos.close()
        bos.size().toLong
      }
      factory
    }
  }

  /** The broadcast payload of a deletion-vector fold: per bucket, the
    * deleted key tuples as (dv commit sequence, normalized UnsafeRow
    * bytes); plus each kept data file's own commit sequence (dv'd
    * buckets only) — a dv masks a key only in files with
    * `file.seq < dv.seq`, the provenance that lets a merge-on-read
    * UPSERT's replacement row survive the dv retiring its
    * predecessors. */
  private[graft] final case class DvFoldData(
      byBucket: Map[Long, Array[(Long, Array[Byte])]],
      fileSeq: Map[String, Long]) extends Serializable

  /** Path → bucket, parsed from the `__bucket=N` layout segment (how
    * every surface — manifest listing, SPJ grouping, the reader-side
    * fold — derives a file's bucket; the column never materializes). */
  private[graft] def bucketOfPath(path: String): Long =
    path.split("/").collectFirst {
      case seg if seg.startsWith("__bucket=") =>
        seg.stripPrefix("__bucket=").toLong
    }.getOrElse(-1L)

  /** Scheme-insensitive path identity: Spark's `input_file_name` and
    * `PartitionedFile.filePath` speak URIs (`file:///root/...`) while
    * the manifest records store paths (`/root/...`) — strip the scheme
    * and collapse duplicate slashes so the two sides key one map. */
  private[graft] def pathKey(p: String): String = {
    val raw =
      if (p.startsWith("file:")) new java.net.URI(p).getPath
      else p
    raw.replaceAll("/{2,}", "/")
  }

  /** Spec probe for the dv fold's DISTRIBUTION shape: the serialized
    * factory size (the per-task closure cost — must be flat in total dv
    * volume) and the largest per-reader key set actually loaded (must
    * track the reader's own buckets, not the table). Local-mode only:
    * executor threads share the JVM. */
  private[graft] object DvFoldProbe {
    @volatile var lastFactoryBytes: Long = -1L
    @volatile var maxReaderKeys: Int = -1
    @volatile var totalKeys: Int = -1
    def reset(): Unit = { lastFactoryBytes = -1L; maxReaderKeys = -1; totalKeys = -1 }
  }

  /** The [[Fold]] over the delegate's readers: a codegen'd `coalesce`
    * projection from the expanded physical row to the fetched schema
    * (columnar batches get the same fold as wrapper vectors), then —
    * when deletion vectors are live — drops rows whose key tuple is in
    * the deleted set and projects surplus key columns away. Built per
    * reader ON the executor; the factory ships only (dataTypes,
    * positions, broadcast handle), and each reader materializes ONLY its
    * own buckets' keys from the broadcast.
    *
    * Sequence awareness: when every applicable dv is newer than every
    * file in the partition's buckets (always, for delete-only tables)
    * one key set serves the whole partition — the r14 shape, zero
    * overhead. Interleaved sequences (merge-on-read upserts) split the
    * partition into per-file sub-readers, each filtering by exactly the
    * dvs newer than ITS file. */
  private final class RenameFoldReaderFactory(
      delegate: org.apache.spark.sql.connector.read.PartitionReaderFactory,
      dataTypes: Seq[org.apache.spark.sql.types.DataType],
      positions: Seq[Seq[Int]],
      dvFold: Option[(Seq[Int], Seq[org.apache.spark.sql.types.DataType],
        org.apache.spark.broadcast.Broadcast[DvFoldData])],
      outFields: Int,
      defaultVals: Map[Int, Any] = Map.empty)
      extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

    /** Whether the fold is expressible COLUMNAR-side: every field that
      * needs per-row coalescing (multi-source rename chain or NOT-NULL
      * default) must be an atomic type — [[CoalesceVector]] delegates
      * typed getters and cannot re-root nested children across sources.
      * Single-source fields pass the delegate's vector through untouched
      * at ANY type, so plain dv folds and simple renames always qualify. */
    private val columnarOk: Boolean = {
      import org.apache.spark.sql.types._
      def atomic(dt: DataType): Boolean = dt match {
        case _: StructType | _: ArrayType | _: MapType |
             _: CalendarIntervalType | _: VariantType => false
        case _ => true
      }
      positions.zipWithIndex.forall { case (ps, i) =>
        (ps.size == 1 && !defaultVals.contains(i)) || atomic(dataTypes(i))
      }
    }

    /** The fold stays on the delegate's VECTORIZED parquet read whenever
      * the delegate offers it — dv masking is a row-id selection mapping
      * and rename/default coalescing a per-value wrapper, both zero-copy
      * over the delegate's ColumnarBatch (the r15 finding: forcing the
      * row-based parquet reader held the fold at ~1.9× plain parquet at
      * every bucket count; the decode loop was the cost, not the mask). */
    override def supportColumnarReads(
        p: org.apache.spark.sql.connector.read.InputPartition): Boolean =
      columnarOk && delegate.supportColumnarReads(p)

    // ---- shared per-reader dv helpers (row + columnar paths) ----

    private def setOf(keyWidth: Int, keys: Iterable[Array[Byte]])
        : java.util.HashSet[org.apache.spark.sql.catalyst.expressions.UnsafeRow] = {
      import org.apache.spark.sql.catalyst.expressions.UnsafeRow
      val s = new java.util.HashSet[UnsafeRow](math.max(16, keys.size * 2))
      for (b <- keys) {
        val r = new UnsafeRow(keyWidth)
        r.pointTo(b, b.length)
        s.add(r)
      }
      if (s.size > DvFoldProbe.maxReaderKeys) DvFoldProbe.maxReaderKeys = s.size
      s
    }

    /** dvs with seq > the file's seq apply; -1 (unknown file seq,
      * shouldn't happen for manifest-listed files) is conservative:
      * every dv applies, matching the pre-seq protocol. */
    private def appliedSeqs(data: DvFoldData,
        f: org.apache.spark.sql.execution.datasources.PartitionedFile): (Long, Seq[Long]) = {
      val b = bucketOfPath(f.filePath.toString)
      val fs = data.fileSeq.getOrElse(pathKey(f.filePath.toString), -1L)
      (b, data.byBucket.getOrElse(b, Array.empty[(Long, Array[Byte])])
        .collect { case (s, _) if s > fs => s }.toSeq.sorted)
    }

    private def keysFor(data: DvFoldData,
        files: Array[org.apache.spark.sql.execution.datasources.PartitionedFile])
        : Iterable[Array[Byte]] =
      files.map(f => (bucketOfPath(f.filePath.toString),
          data.fileSeq.getOrElse(pathKey(f.filePath.toString), -1L)))
        .distinct.toSeq.flatMap { case (b, fs) =>
          data.byBucket.getOrElse(b, Array.empty[(Long, Array[Byte])])
            .collect { case (s, k) if s > fs => k }.toSeq
        }

    /** One key set serves the whole partition when the applicable dv
      * sequences are uniform per bucket (always, for delete-only
      * tables — cross-bucket keys can never collide: a key hashes to
      * exactly one bucket). Interleaved file/dv sequences (merge-on-read
      * upserts) need per-file masking instead. */
    private def uniformPerBucket(data: DvFoldData,
        fp: org.apache.spark.sql.execution.datasources.FilePartition): Boolean =
      fp.files.groupBy(f => bucketOfPath(f.filePath.toString))
        .values.forall(_.map(appliedSeqs(data, _)).distinct.length <= 1)

    override def createReader(p: org.apache.spark.sql.connector.read.InputPartition)
        : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, Coalesce, UnsafeProjection, UnsafeRow}
      import org.apache.spark.sql.catalyst.expressions.Literal
      val exprs = positions.zipWithIndex.zip(dataTypes).map { case ((ps, idx), dt) =>
        val refs = ps.map(i =>
          BoundReference(i, dt, nullable = true)
            : org.apache.spark.sql.catalyst.expressions.Expression)
        // a defaulted column coalesces to its literal LAST — absent or
        // null bytes read as the declared default
        val withDefault = defaultVals.get(idx) match {
          case Some(v) => refs :+ (Literal(v, dt)
            : org.apache.spark.sql.catalyst.expressions.Expression)
          case None => refs
        }
        if (withDefault.size == 1) withDefault.head else Coalesce(withDefault)
      }
      val proj = UnsafeProjection.create(exprs)
      dvFold match {
        case None =>
          val inner = delegate.createReader(p)
          new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
            override def next(): Boolean = inner.next()
            override def get(): InternalRow = proj(inner.get())
            override def close(): Unit = inner.close()
          }
        case Some((keyIdx, keyTypes, bc)) =>
          val data = bc.value
          // the same normalization the collection side applied — byte
          // equality then agrees with SQL join equality on float keys
          val keyProj = UnsafeProjection.create(
            keyIdx.zip(keyTypes).map { case (i, t) =>
              GraftBridge.normalizeFloats(BoundReference(i, t, nullable = true))
            })
          // surplus key columns (fetched for the filter only) truncate away
          val outProj =
            if (outFields == dataTypes.length) null
            else UnsafeProjection.create(
              (0 until outFields).map(i =>
                BoundReference(i, dataTypes(i), nullable = true)))
          def filtered(inner: org.apache.spark.sql.connector.read.PartitionReader[InternalRow],
              deleted: java.util.HashSet[UnsafeRow])
              : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
            new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
              private var cur: InternalRow = _
              override def next(): Boolean = {
                while (inner.next()) {
                  val folded = proj(inner.get())
                  if (!deleted.contains(keyProj(folded))) {
                    cur = if (outProj == null) folded else outProj(folded)
                    return true
                  }
                }
                false
              }
              override def get(): InternalRow = cur
              override def close(): Unit = inner.close()
            }
          import org.apache.spark.sql.execution.datasources.FilePartition
          p match {
            case fp: FilePartition if uniformPerBucket(data, fp) =>
              filtered(delegate.createReader(p),
                setOf(keyTypes.length, keysFor(data, fp.files)))
            case fp: FilePartition =>
              // interleaved file/dv sequences: per-file sub-readers, each
              // masked by exactly the dvs NEWER than its file
              new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
                private val queue = fp.files.iterator
                private var inner: org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = _
                override def next(): Boolean = {
                  while (true) {
                    if (inner != null && inner.next()) return true
                    if (inner != null) { inner.close(); inner = null }
                    if (!queue.hasNext) return false
                    val f = queue.next()
                    inner = filtered(
                      delegate.createReader(FilePartition(fp.index, Array(f))),
                      setOf(keyTypes.length, keysFor(data, Array(f))))
                  }
                  false
                }
                override def get(): InternalRow = inner.get()
                override def close(): Unit = if (inner != null) inner.close()
              }
            case _ =>
              // non-file partition (unreachable for the parquet delegate):
              // conservative — the union of every bucket's keys, the
              // pre-seq semantics
              filtered(delegate.createReader(p),
                setOf(keyTypes.length, data.byBucket.values.flatten.map(_._2)))
          }
      }
    }

    // ---- columnar path: the delegate's vectorized parquet batches pass
    // through with (a) rename/default coalescing as per-value wrapper
    // vectors, (b) dv masking as a row-id selection mapping, (c) surplus
    // key truncation as column dropping — parquet DECODE stays
    // vectorized and downstream ColumnarToRow keeps its batch loop.

    /** Build the FETCHED-schema vectors over a delegate batch: one
      * pass-through vector per single-source undefaulted field, a
      * [[CoalesceVector]] where the fold must pick per row. */
    private def fetchedVectors(src: org.apache.spark.sql.vectorized.ColumnarBatch)
        : Array[org.apache.spark.sql.vectorized.ColumnVector] =
      positions.zipWithIndex.zip(dataTypes).map { case ((ps, idx), dt) =>
        val d = defaultVals.get(idx)
        if (ps.size == 1 && d.isEmpty) src.column(ps.head)
        else new CoalesceVector(dt, ps.map(src.column).toArray, d.orNull)
      }.toArray

    private def foldedColumnar(
        inner: org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch],
        deleted: java.util.HashSet[org.apache.spark.sql.catalyst.expressions.UnsafeRow],
        keyProj: org.apache.spark.sql.catalyst.expressions.UnsafeProjection)
        : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
      new org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
        import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
        private var cur: ColumnarBatch = _
        override def next(): Boolean = {
          if (!inner.next()) return false
          val src = inner.get()
          val n = src.numRows()
          val fetched = fetchedVectors(src)
          val out = if (outFields == fetched.length) fetched else fetched.take(outFields)
          cur =
            if (deleted == null || deleted.isEmpty || n == 0) new ColumnarBatch(out, n)
            else {
              val probe = new ColumnarBatch(fetched, n)
              val sel = new Array[Int](n)
              var k = 0
              var i = 0
              while (i < n) {
                if (!deleted.contains(keyProj(probe.getRow(i)))) { sel(k) = i; k += 1 }
                i += 1
              }
              if (k == n) new ColumnarBatch(out, n)
              else new ColumnarBatch( // survivors via row-id indirection — no value copies
                out.map(v => new SelectVector(v, sel): ColumnVector), k)
            }
          true
        }
        override def get(): ColumnarBatch = cur
        override def close(): Unit = inner.close()
      }

    override def createColumnarReader(p: org.apache.spark.sql.connector.read.InputPartition)
        : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
      import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
      import org.apache.spark.sql.execution.datasources.FilePartition
      import org.apache.spark.sql.vectorized.ColumnarBatch
      dvFold match {
        case None => foldedColumnar(delegate.createColumnarReader(p), null, null)
        case Some((keyIdx, keyTypes, bc)) =>
          val data = bc.value
          val keyProj = UnsafeProjection.create(
            keyIdx.zip(keyTypes).map { case (i, t) =>
              GraftBridge.normalizeFloats(BoundReference(i, t, nullable = true))
            })
          p match {
            case fp: FilePartition if uniformPerBucket(data, fp) =>
              foldedColumnar(delegate.createColumnarReader(p),
                setOf(keyTypes.length, keysFor(data, fp.files)), keyProj)
            case fp: FilePartition =>
              new org.apache.spark.sql.connector.read.PartitionReader[ColumnarBatch] {
                private val queue = fp.files.iterator
                private var inner: org.apache.spark.sql.connector.read.PartitionReader[ColumnarBatch] = _
                override def next(): Boolean = {
                  while (true) {
                    if (inner != null && inner.next()) return true
                    if (inner != null) { inner.close(); inner = null }
                    if (!queue.hasNext) return false
                    val f = queue.next()
                    inner = foldedColumnar(
                      delegate.createColumnarReader(FilePartition(fp.index, Array(f))),
                      setOf(keyTypes.length, keysFor(data, Array(f))), keyProj)
                  }
                  false
                }
                override def get(): ColumnarBatch = inner.get()
                override def close(): Unit = if (inner != null) inner.close()
              }
            case _ =>
              foldedColumnar(delegate.createColumnarReader(p),
                setOf(keyTypes.length, data.byBucket.values.flatten.map(_._2)), keyProj)
          }
      }
    }
  }

  /** Row-id INDIRECTION over a base vector — the dv fold's selection
    * mapping: position `i` of this vector is position `sel(i)` of the
    * base. Zero-copy; the base stays owned by the delegate's batch
    * (close is a no-op here). `numNulls` reports the base's count — an
    * upper bound for the selected subset, which is the safe direction
    * (consumers treat it as "may contain nulls" and fall back to
    * per-row `isNullAt`). */
  private final class SelectVector(
      base: org.apache.spark.sql.vectorized.ColumnVector, sel: Array[Int])
      extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType()) {
    override def close(): Unit = ()
    override def hasNull: Boolean = base.hasNull
    override def numNulls: Int = base.numNulls
    override def isNullAt(i: Int): Boolean = base.isNullAt(sel(i))
    override def getBoolean(i: Int): Boolean = base.getBoolean(sel(i))
    override def getByte(i: Int): Byte = base.getByte(sel(i))
    override def getShort(i: Int): Short = base.getShort(sel(i))
    override def getInt(i: Int): Int = base.getInt(sel(i))
    override def getLong(i: Int): Long = base.getLong(sel(i))
    override def getFloat(i: Int): Float = base.getFloat(sel(i))
    override def getDouble(i: Int): Double = base.getDouble(sel(i))
    override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
      base.getDecimal(sel(i), p, s)
    override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
      base.getUTF8String(sel(i))
    override def getBinary(i: Int): Array[Byte] = base.getBinary(sel(i))
    override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
      base.getArray(sel(i))
    override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
      base.getMap(sel(i))
    override def getInterval(i: Int): org.apache.spark.unsafe.types.CalendarInterval =
      base.getInterval(sel(i))
    // struct/variant access routes through children with the TOP-level
    // row id — wrap them in the same selection so it lands on base rows
    override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
      new SelectVector(base.getChild(ordinal), sel)
  }

  /** Per-value COALESCE across rename-chain source vectors, with an
    * optional NOT-NULL-DEFAULT internal value as the last resort — the
    * columnar form of the fold's `Coalesce(sources :+ default)`
    * projection. Atomic types only (the factory's `columnarOk` gate);
    * nested types fall back to the row path. */
  private final class CoalesceVector(
      dt: org.apache.spark.sql.types.DataType,
      sources: Array[org.apache.spark.sql.vectorized.ColumnVector],
      default: Any)
      extends org.apache.spark.sql.vectorized.ColumnVector(dt) {
    private def src(i: Int): org.apache.spark.sql.vectorized.ColumnVector = {
      var j = 0
      while (j < sources.length) {
        if (!sources(j).isNullAt(i)) return sources(j)
        j += 1
      }
      null
    }
    override def close(): Unit = ()
    // "may contain nulls" is the safe over-report when any source may
    // leave a row uncovered and no default backstops it
    override def hasNull: Boolean = default == null && sources.exists(_.hasNull)
    override def numNulls: Int = if (default == null) sources.map(_.numNulls).min else 0
    override def isNullAt(i: Int): Boolean = default == null && src(i) == null
    override def getBoolean(i: Int): Boolean = {
      val v = src(i); if (v != null) v.getBoolean(i) else default.asInstanceOf[Boolean]
    }
    override def getByte(i: Int): Byte = {
      val v = src(i); if (v != null) v.getByte(i) else default.asInstanceOf[Byte]
    }
    override def getShort(i: Int): Short = {
      val v = src(i); if (v != null) v.getShort(i) else default.asInstanceOf[Short]
    }
    override def getInt(i: Int): Int = {
      val v = src(i); if (v != null) v.getInt(i) else default.asInstanceOf[Int]
    }
    override def getLong(i: Int): Long = {
      val v = src(i); if (v != null) v.getLong(i) else default.asInstanceOf[Long]
    }
    override def getFloat(i: Int): Float = {
      val v = src(i); if (v != null) v.getFloat(i) else default.asInstanceOf[Float]
    }
    override def getDouble(i: Int): Double = {
      val v = src(i); if (v != null) v.getDouble(i) else default.asInstanceOf[Double]
    }
    override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal = {
      val v = src(i)
      if (v != null) v.getDecimal(i, p, s)
      else default.asInstanceOf[org.apache.spark.sql.types.Decimal]
    }
    override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String = {
      val v = src(i)
      if (v != null) v.getUTF8String(i)
      else default.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    }
    override def getBinary(i: Int): Array[Byte] = {
      val v = src(i)
      if (v != null) v.getBinary(i) else default.asInstanceOf[Array[Byte]]
    }
    override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
      throw new UnsupportedOperationException("nested coalesce takes the row path")
    override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
      throw new UnsupportedOperationException("nested coalesce takes the row path")
    override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
      throw new UnsupportedOperationException("nested coalesce takes the row path")
  }

  /** Static + runtime file pruning, shared by `build()` and the runtime
    * `filter()` re-prune: partition refutation, composite-key tuple
    * bucket, and per-file bucket/stats `mayMatch` — all conservative
    * (unknown = keep). */
  private[sources] def pruneEntries(files: Seq[FileEntry], resolved: Resolved,
      tableSchema: StructType, v1: Seq[Filter]): Seq[FileEntry] = {
    // COMPOSITE-key bucket pruning: mayMatch sees one conjunct at a
    // time, so a multi-column key's bucket is computable only here,
    // across the top-level conjunction — when every component is
    // pinned by an EqualTo, the point lookup reads one bucket's files
    // (single-column keys keep the per-filter path inside mayMatch)
    val tupleBucket: Option[Long] = resolved.keyInfo.flatMap { case (spec, buckets) =>
      val keyCols = spec.split(",").map(_.trim).toSeq
      if (keyCols.size <= 1) None
      else {
        val eqs: Map[String, Any] = v1.collect {
          case org.apache.spark.sql.sources.EqualTo(a, v) if v != null => a -> v
        }.toMap
        if (keyCols.forall(eqs.contains))
          ManifestStats.bucketOfTuple(keyCols.map(eqs), buckets)
        else None
      }
    }
    files.filter { e =>
      // partition pruning BY CONSTRUCTION: a file under __pdate=<d>
      // holds only rows whose partition column formats to <d> — refute
      // the pushed conjunction against that date and the file never
      // opens. Null-partition files and unpartitioned vintages carry
      // no segment and are always kept (conservative).
      val partOk = (for {
        pc <- resolved.partCol
        pv <- ManifestUpsertSink.partOf(e.path)
        if pv.matches("\\d{4}-\\d{2}-\\d{2}")
      } yield {
        // range pruning is sound only when the raw column orders like
        // its canonical date form — i.e. for DateType (see partMayMatch)
        val rangesOk = tableSchema.fields.find(_.name == pc)
          .exists(_.dataType == org.apache.spark.sql.types.DateType)
        v1.forall(ManifestStats.partMayMatch(pv, pc, _, rangesOk))
      }).getOrElse(true)
      partOk && tupleBucket.forall(_ == e.bucket) && v1.forall(
        ManifestStats.mayMatch(e.bucket, resolved.stats.get(e.path), resolved.keyInfo, _))
    }
  }

  /** Spec probe: the last runtime re-prune's (root, filesBefore,
    * filesAfter) — how ManifestSkippingSpec pins that a join-time filter
    * actually dropped buckets without reaching into Spark internals. */
  private[graft] object RuntimeFilterProbe {
    @volatile var last: Option[(String, Int, Int)] = None
    def reset(): Unit = { last = None }
  }

  /** The scan the connector hands Spark: an ordinary parquet scan over
    * the pruned file list, PLUS planner statistics, runtime filtering,
    * storage-partitioned-join layout and — only when the snapshot needs
    * one — a reader-side [[Fold]].
    *
    *  - [[SupportsReportStatistics]]: sizeInBytes/rowCount summed from
    *    the manifest's stats sidecar over the POST-PRUNING file list —
    *    zero planning-time filesystem calls (the bytes were recorded at
    *    commit time, with the footer stats) — minus the rows live
    *    deletion vectors remove. A dimension table — or a fact table
    *    pruned to one bucket by a pushed point predicate — reports its
    *    true small size, so Spark AUTO-BROADCASTS it; without this every
    *    lake join defaults to shuffle (the planner assumes
    *    `defaultSizeInBytes` = huge for unsized v2 scans), the single
    *    biggest silent plan miss at 100× scale. Files missing from the
    *    sidecar fall back to rows × schema width, then to "unknown"
    *    (never under-report: a too-small guess would broadcast a huge
    *    table — worse than a missed broadcast).
    *  - [[SupportsRuntimeFiltering]]: at execution start, a join against
    *    a filtered dimension hands this scan an IN-set on the join key;
    *    re-running the same conservative pruning maps those keys through
    *    `pmod(xxhash64(key), buckets)` and drops every non-matching
    *    bucket's files — dynamic partition pruning re-expressed for the
    *    bucket layout (plus `__pdate` partition dirs when the runtime
    *    filter is on the partition column). A 100-TB star join then
    *    reads 1/buckets of the fact table instead of all of it.
    *  - The FOLD (live rename, NOT-NULL-DEFAULT add or kept dvs) wraps
    *    the delegate's reader factory in [[RenameFoldReaderFactory]],
    *    which keeps the delegate's vectorized decode. Every contract
    *    above, and the SPJ layout, holds for a folded scan too; with no
    *    fold the scan reads exactly as the delegate does. */
  private[graft] final class ManifestScan(private val options: CaseInsensitiveStringMap,
      resolved: Resolved, tableSchema: StructType, keptInit: Seq[FileEntry],
      private val pushedExprs: Seq[Expression],
      private val required: Option[StructType],
      private val dvs: Seq[DvEntry])
      extends Scan with org.apache.spark.sql.connector.read.Batch
      with SupportsReportStatistics with SupportsRuntimeFiltering
      with org.apache.spark.sql.connector.read.SupportsReportPartitioning
      with org.apache.spark.sql.connector.read.SupportsReportOrdering {

    @volatile private var kept: Seq[FileEntry] = keptInit

    private val logical: StructType = required.getOrElse(tableSchema)

    private val fold: Option[Fold] =
      if (resolved.renames.isEmpty && dvs.isEmpty && resolved.defaults.isEmpty) None
      else Some(new Fold(resolved, tableSchema, logical, keptInit, dvs))

    /** Spec window: whether this scan reads through the fold. */
    private[graft] def folded: Boolean = fold.isDefined

    /** STORAGE-PARTITIONED-JOIN mode: when the user enables Spark's v2
      * bucketing (`spark.sql.sources.v2.bucketing.enabled`) and the
      * snapshot has a key layout whose every component survives column
      * pruning, the scan (a) reports
      * `KeyGroupedPartitioning(bucket(n, key...), |buckets present|)` —
      * resolvable through the catalog's [[GraftBucketFunction]] — and
      * (b) plans ONE InputPartition per bucket (each `HasPartitionKey`),
      * so a join between two same-layout lake tables on the bucket key
      * runs with ZERO shuffle: every task reads both sides' files of one
      * bucket. The bucket-id GROUP SET is pinned at scan construction:
      * a runtime filter may empty a group's file list but never drops
      * the group, keeping the reported partition count true. Off (the
      * default), partition planning stays Spark's size-based splitting —
      * SPJ trades per-scan parallelism (≤ buckets tasks) for the absent
      * shuffle, the operator's call to make per workload. */
    private val spjBuckets: Option[Seq[Long]] = {
      val conf = org.apache.spark.sql.internal.SQLConf.get
      // the SOURCE-side opt-in (the Iceberg preserve-data-grouping model):
      // grouping caps a scan's task count at the bucket count, which is
      // only worth paying when the workload actually joins same-layout
      // tables — and Spark's own v2.bucketing.enabled is default-TRUE in
      // 4.x, so it alone must not flip every lake scan into SPJ layout
      val on = conf.v2BucketingEnabled && conf.getConfString(
        ManifestSource.PreserveGroupingConf, "false").toBoolean
      val outCols = logical.fieldNames.toSet
      resolved.keyInfo match {
        case Some((spec, _)) if on && kept.nonEmpty &&
            spec.split(",").map(_.trim).forall(outCols.contains) =>
          Some(kept.map(_.bucket).distinct.sorted)
        case _ => None
      }
    }

    /** KEY ORDERING report — the piece that removes the per-task
      * SortExec from a storage-partitioned join: valid ONLY when (a) SPJ
      * mode is on (each InputPartition is one bucket), (b) the manifest
      * stamps every live file key-sorted under the CURRENT key spec, and
      * (c) no bucket holds more than one physical file (two sorted files
      * concatenated are not sorted — a fresh compact() restores the
      * one-file-per-bucket layout). Splits of the single file read in
      * offset order (GroupedBatch sorts them), so the partition-wide
      * order claim holds; a dv drops rows of that file but never
      * reorders the rest. Ascending nulls-first, matching both the
      * writer's sortWithinPartitions and Spark's default sort key. */
    override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      (spjBuckets, resolved.keyInfo) match {
        case (Some(_), Some((spec, _)))
            if resolved.sortedBy.contains(spec) &&
              kept.groupBy(_.bucket).values.forall(_.size <= 1) =>
          spec.split(",").map(_.trim).map(c =>
            org.apache.spark.sql.connector.expressions.Expressions.sort(
              org.apache.spark.sql.connector.expressions.Expressions.column(c),
              org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
        case _ => Array.empty
      }

    override def outputPartitioning()
        : org.apache.spark.sql.connector.read.partitioning.Partitioning =
      (spjBuckets, resolved.keyInfo) match {
        case (Some(bs), Some((spec, nb))) =>
          new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
              nb, spec.split(",").map(_.trim): _*)),
            bs.size)
        case _ =>
          new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
      }

    /** Spec window: the file list this scan will read (post static AND
      * any runtime pruning) — the counterpart of ParquetScan's
      * `fileIndex.inputFiles` the plan-pin helpers read. */
    private[graft] def plannedFiles: Seq[String] = kept.map(_.path)

    private def buildDelegate(): Scan = {
      val b = parquetScanBuilder(options, kept.map(_.path), resolved,
        fold.map(_.physTable).getOrElse(tableSchema))
      if (pushedExprs.nonEmpty) b.pushFilters(pushedExprs)
      fold.map(_.physRequired).orElse(required).foreach(b.pruneColumns)
      b.build()
    }

    // the delegate is REBUILT on runtime filter (shorter file list, same
    // pushdown state); BatchScanExec re-calls toBatch after filter() and
    // plans partitions from the rebuilt scan
    @volatile private var delegate: Scan = buildDelegate()

    override def readSchema(): StructType =
      if (fold.isEmpty) delegate.readSchema() else logical

    // with no fold the Batch is the delegate's own; a folded scan is its
    // own Batch, so only the reader factory changes
    override def toBatch: org.apache.spark.sql.connector.read.Batch = {
      val inner = if (fold.isEmpty) delegate.toBatch else this
      spjBuckets.map(new GroupedBatch(inner, _)).getOrElse(inner)
    }
    override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
      delegate.toBatch.planInputPartitions()
    override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory = {
      val base = delegate.toBatch.createReaderFactory()
      fold.map(_.factory(base)).getOrElse(base)
    }

    override def description(): String = {
      val tag = if (fold.isEmpty) "" else
        s"(fold${if (resolved.renames.nonEmpty) " renames" else ""}" +
          s"${if (dvs.nonEmpty) s" dv=${dvs.map(_.rows).sum}keys" else ""})"
      s"graft-manifest$tag files=${kept.size}/${resolved.files.size} ${delegate.description()}"
    }

    /** Post-pruning planner statistics from the commit-time sidecar
      * (rows net of live dv rows), plus — when an `ANALYZE ... FOR
      * COLUMNS` census exists for this version — DSv2 COLUMN statistics
      * (ndv + null count per analyzed column still in the pruned output).
      * Spark translates these into catalyst attribute stats, which is
      * what makes cost-based join cardinality estimation (and DP join
      * reordering) work on lake tables: without ndv a multi-join's
      * intermediate cardinalities are unknown and CBO keeps the written
      * order. The census is computed over the logical snapshot (dv fold
      * included), so a dv'd or defaulted table keeps it; live renames
      * never carry one (resolve() goes dark on them, the names would
      * misbind). Table-level ndv is reported unscaled after file pruning
      * — an over-estimate of the pruned subset's ndv, the conventional
      * (and planner-safe) approximation. */
    override def estimateStatistics(): V2Statistics = {
      val conf = org.apache.spark.sql.internal.SQLConf.get
      val stats = kept.map(e => resolved.stats.get(e.path))
      def known(v: => Long): java.util.OptionalLong =
        if (stats.forall(_.isDefined)) java.util.OptionalLong.of(v)
        else java.util.OptionalLong.empty()
      // per-row width for files whose sidecar predates byte sizes
      val rowWidth = math.max(1L, tableSchema.defaultSize.toLong)
      val bytes = known(stats.flatten.map(s =>
        if (s.bytes >= 0) (s.bytes * conf.fileCompressionFactor).toLong
        else s.rows * rowWidth).sum)
      val rows = known(math.max(0L, stats.flatten.map(_.rows).sum - dvs.map(_.rows).sum))
      val cols = colStatsMap(kept, resolved, tableSchema, readSchema().fieldNames.toSet)
      new V2Statistics {
        override def sizeInBytes(): java.util.OptionalLong = bytes
        override def numRows(): java.util.OptionalLong = rows
        override def columnStats(): java.util.Map[NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = cols
      }
    }

    /** The columns a join-time runtime filter can prune on: the key
      * component(s) (bucket pruning + sidecar ranges) and the partition
      * column (`__pdate` dirs). Restricted to the scan's pruned OUTPUT —
      * Spark resolves these against the scan relation's attributes and
      * fails the whole query on a miss, so a projected-away key must not
      * be offered. Renamed key columns are withheld: the runtime IN-set
      * values arrive under the LOGICAL name, which is only provably the
      * stored physical value when the name was never remapped (a folded
      * coalesce may differ per vintage). */
    override def filterAttributes(): Array[NamedReference] = {
      val out = readSchema().fieldNames.toSet
      val remapped = resolved.renames.map(_._2).toSet
      val keyAttrs = resolved.keyInfo.toSeq.flatMap(_._1.split(",").map(_.trim))
      (keyAttrs ++ resolved.partCol).distinct
        .filter(n => out.contains(n) && !remapped.contains(n))
        .map(org.apache.spark.sql.connector.expressions.Expressions.column)
        .toArray
    }

    override def filter(filters: Array[Filter]): Unit = {
      val pruned = pruneEntries(kept, resolved, tableSchema, filters.toSeq)
      RuntimeFilterProbe.last = Some((options.get("path"), kept.size, pruned.size))
      if (pruned.size < kept.size) {
        kept = pruned
        delegate = buildDelegate()
      }
    }

    /** Value equality so exchange/scan reuse keeps working across two
      * loads of the same snapshot (the stock ParquetScan is a case class;
      * a reference-equality wrapper would silently disable reuse for
      * self-joins). Conservative: pushdown state compares canonicalized.
      * `dvs` are (bucket, rows, path) records of immutable files, so list
      * equality is snapshot equality. */
    override def equals(other: Any): Boolean = other match {
      case o: ManifestScan =>
        options.asCaseSensitiveMap() == o.options.asCaseSensitiveMap() &&
          kept == o.kept && dvs == o.dvs &&
          pushedExprs.map(_.canonicalized) == o.pushedExprs.map(_.canonicalized) &&
          required == o.required
      case _ => false
    }
    override def hashCode(): Int =
      java.util.Objects.hash(options.asCaseSensitiveMap(), kept, dvs, required)
  }
}
