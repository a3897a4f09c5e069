package graft.sources

import java.io.{DataInputStream, DataOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.ManifestUpsertSink

/** SQL `UPDATE` / `MERGE INTO` / row-level `DELETE` for manifest-lake
  * tables — the DSv2 [[SupportsDelta]] operation behind the last two
  * warehouse verbs the catalog was missing (the reference explicitly
  * punts on UPDATE: `/root/reference/src/kinesis3/db.clj:83-85` throws
  * UnsupportedOperationException; MERGE is its "would be" note).
  *
  * Shape: Spark's own analyzer rewrites (RewriteUpdateTable /
  * RewriteMergeIntoTable) plan the matching, the clause arbitration, and
  * the cardinality checks; this operation only declares the row identity
  * (the table's key column) and receives the final per-row verdicts —
  * insert / update / delete — through a [[DeltaWriter]]. That is exactly
  * the CDC vocabulary the sink already speaks, so the apply step is the
  * committed copy-on-write protocol, never a second implementation:
  * inserts+updates MERGE via `upsertBatch`, deletes go through
  * `deleteKeys`, and a key-changing UPDATE (id ≠ row key) becomes
  * delete-old + upsert-new. Arbitrary predicates and ON conditions work
  * — Spark reads the table through the connector's pruning scan (bucket
  * + stats file skipping apply to the matching side too).
  *
  * Scale path (the part that must survive 100 TB): executors stage the
  * delta rows as length-prefixed UnsafeRow bytes under the table's
  * `_stage/` (one file per task, committed by name through the writer
  * commit messages so speculative duplicates are never read), the driver
  * re-enters the DataFrame API over a DISTRIBUTED decode of exactly the
  * committed files, and the sink's ordinary touched-bucket rewrite takes
  * over — no row ever funnels through the driver. Crashed statements
  * leave only an age-gated `_stage/` orphan for vacuum's sweep.
  *
  * The two sink commits (MERGE, then DELETE of keys not re-occupied)
  * are replay-guard sentinels (ad-hoc writes), matching the CDC-APPLY
  * streaming sink's paired-commit precedent. */
private[graft] final class ManifestDeltaOperation(
    cmd: RowLevelOperation.Command,
    tableOptions: CaseInsensitiveStringMap,
    resolved: () => ManifestSource.Resolved,
    tableSchema: StructType) extends RowLevelOperation with SupportsDelta {

  private val root: String = tableOptions.get("path")

  private val keyCol: String = ManifestSource.resolveKeyBuckets(root,
    Option(tableOptions.get("keyCol")), Option(tableOptions.get("buckets")).map(_.toInt))._1

  private val keyCols: Seq[String] =
    keyCol.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"graft-manifest $cmd on $root keyed by $keyCol"

  /** Row identity = the table's key column(s): the same identity every
    * other verb (merge LWW, delete, CDC feed, bucket routing) uses —
    * a composite key declares every component, in spec order. */
  override def rowId(): Array[NamedReference] =
    keyCols.map(Expressions.column).toArray

  /** The matching side reads through the SAME pruning scan as every
    * other query — a keyed `UPDATE ... WHERE key = v` file-prunes to one
    * bucket before a byte is read. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestSource.ManifestScanBuilder(tableOptions, resolved(), tableSchema)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new ManifestDeltaWrite(root, keyCol,
        Option(tableOptions.get("orderCol")).getOrElse(keyCols.head),
        info.schema(), info.rowIdSchema().orElseThrow(() =>
          new IllegalStateException("delta write without a rowId schema")),
        mergeOnRead = Option(tableOptions.get("mergeOnRead")).exists(_.toBoolean),
        dvMaxRowsPerBucket = Option(tableOptions.get("dvMaxRowsPerBucket"))
          .map(_.toLong).getOrElse(ManifestUpsertSink.DefaultDvMaxRowsPerBucket))
    }
}

private final class ManifestDeltaWrite(root: String, keyCol: String,
    orderCol: String, dataSchema: StructType, idSchema: StructType,
    mergeOnRead: Boolean, dvMaxRowsPerBucket: Long)
    extends DeltaWrite {

  override def description(): String = s"graft-manifest delta write to $root"

  override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
    // per-statement stage dir under the table root: executor-visible on
    // any shared store, swept by vacuum's age-gated orphan pass if the
    // statement dies before commit
    private val stageDir =
      s"$root/_stage/rlo-${java.util.UUID.randomUUID().toString.take(8)}"

    // the SESSION's resolved Hadoop configuration (spark.hadoop.*
    // settings, credentials), shipped to the stage writers — a bare
    // `new Configuration()` on executors would bind the wrong filesystem
    // for an object-store table root even though the committed write
    // itself goes through TableStore
    private val hconf =
      new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf())

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
      new ManifestDeltaWriterFactory(stageDir, dataSchema, idSchema, hconf)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val spark = SparkSession.active
      val paths = messages.collect { case ManifestDeltaCommit(Some(p)) => p }.toSeq
      try {
        if (paths.nonEmpty)
          ManifestRowLevelOps.applyStaged(spark, root, keyCol, orderCol,
            paths, dataSchema, idSchema, hconf, mergeOnRead, dvMaxRowsPerBucket)
      } finally ManifestRowLevelOps.deleteDir(stageDir, hconf.value)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      ManifestRowLevelOps.deleteDir(stageDir, hconf.value)
  }
}

/** One staged-delta file per committed task. None = the task saw no
  * matching rows and never opened a file. */
private final case class ManifestDeltaCommit(path: Option[String])
    extends WriterCommitMessage

/** Minimal serializable Hadoop-conf carrier (Spark's own
  * `SerializableConfiguration` is `private[spark]`): the standard
  * writeObject/readFields codec, shipping the DRIVER session's resolved
  * configuration to executor-side stage IO. */
private[graft] final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

private final class ManifestDeltaWriterFactory(stageDir: String,
    dataSchema: StructType, idSchema: StructType,
    hconf: SerializableHadoopConf) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      // projections re-encode the exec's projected row views as
      // self-contained UnsafeRows the byte codec can ship
      private val rowProj = UnsafeProjection.create(dataSchema)
      private val idProj = UnsafeProjection.create(idSchema)
      private val writeBuffer = new Array[Byte](4096)
      private var out: DataOutputStream = _
      private val path = s"$stageDir/delta-$partitionId-$taskId.bin"

      // opened lazily: a task with no matching rows stages nothing
      private def stream(): DataOutputStream = {
        if (out == null) {
          val p = new HPath(path)
          out = new DataOutputStream(
            p.getFileSystem(hconf.value).create(p, false))
        }
        out
      }

      private def emit(op: Byte, id: UnsafeRow, row: UnsafeRow): Unit = {
        val s = stream()
        s.writeByte(op)
        if (id == null) s.writeInt(0)
        else { s.writeInt(id.getSizeInBytes); id.writeToStream(s, writeBuffer) }
        if (row == null) s.writeInt(0)
        else { s.writeInt(row.getSizeInBytes); row.writeToStream(s, writeBuffer) }
      }

      override def insert(row: InternalRow): Unit =
        emit('I', null, rowProj(row))

      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
        emit('U', idProj(id), rowProj(row))

      override def delete(meta: InternalRow, id: InternalRow): Unit =
        emit('D', idProj(id), null)

      override def commit(): WriterCommitMessage = {
        if (out != null) out.close()
        ManifestDeltaCommit(if (out != null) Some(path) else None)
      }

      override def abort(): Unit = {
        if (out != null) {
          out.close()
          val p = new HPath(path)
          p.getFileSystem(hconf.value).delete(p, false)
          ()
        }
      }

      override def close(): Unit = ()
    }
}

private[graft] object ManifestRowLevelOps {

  /** Decode the committed staged files DISTRIBUTED and apply them through
    * the sink's committed protocol IN ONE COMMIT ([[ManifestUpsertSink
    * .applyDelta]]): inserts+updates MERGE, deletes (and updated-away old
    * keys) DELETE, under a single version with a single combined change
    * feed — so a key-moving `UPDATE t SET key = key + 1` is atomic: no
    * crash window or reader-visible intermediate version with rows at
    * both old and new keys (the two-commit shape this replaced had
    * exactly that hole). Keys re-occupied by an insert/update survive:
    * the statement resolves a key both upserted and deleted as an
    * upsert. */
  private[sources] def applyStaged(spark: SparkSession, root: String,
      keyCol: String, orderCol: String, paths: Seq[String],
      dataSchema: StructType, idSchema: StructType,
      hconf: SerializableHadoopConf, mergeOnRead: Boolean = false,
      dvMaxRowsPerBucket: Long = ManifestUpsertSink.DefaultDvMaxRowsPerBucket): Unit = {
    val sc = spark.sparkContext
    val nData = dataSchema.length
    val keyCols = keyCol.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    // a pure-DELETE delta ships no data rows at all — its write schema is
    // empty and only 'D' records exist, so the key positions in the data
    // row are needed (and defined) only when updates can occur.
    // idSchema's field order is rowId() order = the key spec's order.
    val keyIdxs: Seq[Int] = keyCols.map(c =>
      if (dataSchema.fieldNames.contains(c)) dataSchema.fieldIndex(c) else -1)
    val keyTypes = idSchema.fields.map(_.dataType).toSeq
    val files = sc.parallelize(paths, math.max(1, math.min(paths.size, 64)))
    def decoded = files.flatMap(p => readRecords(p, nData, idSchema.length, hconf))
    def keyMoved(id: InternalRow, row: InternalRow): Boolean =
      keyTypes.indices.exists(i => !java.util.Objects.equals(
        id.get(i, keyTypes(i)), row.get(keyIdxs(i), keyTypes(i))))
    // upserts: the final row images of every INSERT and UPDATE
    val upserts = GraftBridge.internalCreateDataFrame(spark,
      decoded.collect { case (op, _, row) if op != 'D' => row.asInstanceOf[InternalRow] },
      dataSchema)
    // delete keys: explicit DELETEs plus UPDATEs whose key moved
    val delKeys = GraftBridge.internalCreateDataFrame(spark,
      decoded.flatMap {
        case ('D', id, _) => Some(id.asInstanceOf[InternalRow])
        case ('U', id, row) if keyMoved(id, row) => Some(id.asInstanceOf[InternalRow])
        case _ => None
      }, idSchema)
    val (kc, buckets) = ManifestSource.resolveKeyBuckets(root, Some(keyCol), None)
    val sink = new ManifestUpsertSink(root, kc, buckets,
      ManifestSource.resolvePartCol(root, None))
    // one statement, one commit, whatever it mixes: a pure DELETE ships
    // a schema-less upsert frame (no row images), an upsert-only
    // statement an empty delete set, and the sink's statement pipeline
    // drops either side when its touched-bucket probe finds no row. A
    // mergeOnRead table appends the row images and retires the old rows
    // with one dv generation, so no statement class pays O(touched-bucket
    // bytes); over-cap statements fall back to copy-on-write in the sink.
    if (mergeOnRead)
      sink.applyDeltaMergeOnRead(upserts, delKeys, orderCol,
        ManifestUpsertSink.AdHocBatch, dvMaxRowsPerBucket)
    else {
      val ups = upserts.persist()
      try sink.applyDelta(ups, delKeys, orderCol, ManifestUpsertSink.AdHocBatch)
      finally { ups.unpersist(); () }
    }
  }

  /** Decode one staged file: (op, idRow, dataRow) records — UnsafeRows
    * over freshly-read byte arrays, safe to hold. */
  private def readRecords(path: String, nData: Int,
      nId: Int, hconf: SerializableHadoopConf): Iterator[(Char, UnsafeRow, UnsafeRow)] = {
    val p = new HPath(path)
    val in = new DataInputStream(p.getFileSystem(hconf.value).open(p))
    def readRow(n: Int): UnsafeRow = {
      val len = in.readInt()
      if (len == 0) null
      else {
        val bytes = new Array[Byte](len)
        in.readFully(bytes)
        val r = new UnsafeRow(n)
        r.pointTo(bytes, len)
        r
      }
    }
    new Iterator[(Char, UnsafeRow, UnsafeRow)] {
      private var nextOp: Int = in.read()
      override def hasNext: Boolean = {
        if (nextOp < 0) { in.close(); false } else true
      }
      override def next(): (Char, UnsafeRow, UnsafeRow) = {
        val op = nextOp.toChar
        val id = readRow(nId)
        val row = readRow(nData)
        nextOp = in.read()
        (op, id, row)
      }
    }
  }

  private[sources] def deleteDir(dir: String, conf: Configuration): Unit = {
    val p = new HPath(dir)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) { fs.delete(p, true); () }
    // a statement must leave no `_stage/` husk behind (the sink's own
    // feed staging applies the same hygiene)
    val parent = p.getParent
    if (parent != null && fs.exists(parent) && fs.listStatus(parent).isEmpty) {
      fs.delete(parent, false); ()
    }
  }
}
