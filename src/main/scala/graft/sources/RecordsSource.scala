package graft.sources

import java.util
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S1 — `format("graft-records")`: a DataSource V2 connector (batch +
  * micro-batch streaming) over the K2 seq-named object layout
  * (`yyyy/MM/dd/<last-seq>.records.log.gz`, [[graft.sinks.LineFileSink.writeSeqNamed]]).
  *
  * This is the engine's own replacement for the reference's KCL worker
  * (core.clj:165-173): where the reference tails a Kinesis stream, the
  * connector tails the stream's durable object log — the layout whose file
  * NAMES are the last sequence number each chunk contains (core.clj:47-50),
  * so **the key listing doubles as the streaming offset**. That is exactly
  * the reference's restart contract ("list keys, resume after the maximum"),
  * here expressed as a first-class V2 [[MicroBatchStream]]:
  *
  *  - offset = max committed file-name sequence number (fixed-width digit
  *    strings: lexicographic order == numeric order)
  *  - a micro-batch = all chunk files with `start < seq <= end`, one
  *    [[InputPartition]] per chunk (a chunk is <= maxRecordsPerFile lines
  *    by the writer's contract — the natural task-sized split unit)
  *  - exactly-once planning: chunk files are immutable once renamed into
  *    place, so the file set between two offsets is deterministic and a
  *    replayed batch re-reads identical data
  *  - contract (same as the reference's): sequence numbers are globally
  *    monotone — a chunk appearing with seq <= the committed cursor is
  *    ignored, exactly as the reference never re-consumes below its max key
  *
  * Unlike the reference the consumer checkpoint is never disabled
  * (core.clj:170 sets `:checkpoint false`): Spark's offset log at
  * `checkpointLocation` + this deterministic offset→files mapping give
  * at-least-once delivery with exactly-once file accounting.
  *
  * Schema mirrors the reference's record shape (core.clj:149):
  * `sequenceNumber` / `data` (split back at the F11 fixed offset), plus
  * `partition` = the `yyyy/MM/dd` object prefix (the reference's record
  * carries its shard `:partition`; the object layout's analogue is the
  * date prefix the chunk was committed under).
  */
final class RecordsSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-records"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RecordsSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RecordsTable(properties.get("path"))
}

object RecordsSource {
  val Schema: StructType = StructType(Seq(
    StructField("sequenceNumber", StringType),
    StructField("data", StringType),
    StructField("partition", StringType)))

  private[sources] val Suffix = ".records.log.gz"

  /** One committed chunk: (sequence number from the file name, full path,
    * yyyy/MM/dd prefix). */
  private[sources] final case class Chunk(seq: String, path: String,
      datePrefix: String)

  /** One Configuration for every listing and reader: `new Configuration()`
    * re-parses the Hadoop default XMLs on EVERY construction (~0.25 s), and
    * latestOffset lists once per trigger — per-trigger construction was
    * the single largest line in the sustained-mode streaming bench's
    * latestOffset phase. The conf is read-only here, so sharing is safe;
    * FileSystem.get additionally caches the FS instance per scheme (not
    * per conf — hence the same `file:` class as the session's,
    * [[graft.sinks.NioLocalFileSystem.wire]]). */
  private[sources] lazy val listingConf =
    graft.sinks.NioLocalFileSystem.wire(new Configuration())

  /** List every committed chunk under `root` (recursive; dot-temp files are
    * never visible — the writer renames into place). Driver-side listing of
    * names only, no data scan.
    *
    * Local roots bypass Hadoop: `RawLocalFileSystem.listFiles` shells out
    * (`ls -ld`) per entry for permission bits — ~150 ms to list 40 chunks,
    * paid once per TRIGGER via latestOffset, which made listing the largest
    * phase of the sustained-mode streaming bench. java.nio walks the same
    * tree in sub-millisecond time. Remote schemes (s3a, hdfs) keep the
    * Hadoop path — there the LIST round-trip is the unavoidable cost and
    * the FS connector is the right abstraction. */
  private[sources] def listChunks(root: String): Seq[Chunk] = {
    def onceLocal(base: java.nio.file.Path): Seq[Chunk] = {
      if (!java.nio.file.Files.exists(base)) return Seq.empty
      val out = ArrayBuffer.empty[Chunk]
      val stream = java.nio.file.Files.walk(base)
      try stream.forEach { f =>
        val name = f.getFileName.toString
        if (name.endsWith(Suffix) && !name.startsWith(".")) {
          val rel = base.relativize(f.getParent).toString
          out += Chunk(name.dropRight(Suffix.length), f.toString, rel)
        }
      } finally stream.close()
      out.sortBy(_.seq).toSeq
    }
    def once(): Seq[Chunk] = {
      val uri = new java.net.URI(root)
      if (uri.getScheme == null)
        return onceLocal(java.nio.file.Paths.get(root))
      if (uri.getScheme == "file")
        return onceLocal(java.nio.file.Paths.get(uri.getPath))
      val fs = FileSystem.get(uri, listingConf)
      val p = new Path(root)
      if (!fs.exists(p)) return Seq.empty
      val out = ArrayBuffer.empty[Chunk]
      val it = fs.listFiles(p, true)
      val rootUri = fs.makeQualified(p).toString.stripSuffix("/")
      while (it.hasNext) {
        val f = it.next().getPath
        val name = f.getName
        if (name.endsWith(Suffix) && !name.startsWith(".")) {
          val rel = f.getParent.toString.stripPrefix(rootUri).stripPrefix("/")
          out += Chunk(name.dropRight(Suffix.length), f.toString, rel)
        }
      }
      out.sortBy(_.seq).toSeq
    }
    var attempt = 0
    while (true) {
      attempt += 1
      try return once()
      catch {
        case e: RuntimeException =>
          // query.stop() interrupts the micro-batch thread mid-listing;
          // Hadoop's local FS wraps the InterruptedException in a
          // RuntimeException that StreamExecution would misclassify as a
          // query failure. Rethrow the interrupt so a stop stays a stop.
          var c: Throwable = e.getCause
          while (c != null) {
            c match {
              case i: java.io.InterruptedIOException => throw i
              case i: InterruptedException => throw i
              case _ => c = c.getCause
            }
          }
          // a concurrent writer's temp file can vanish between the
          // directory listing and the per-entry stat (local FS stats lag
          // the listing; an object store's LIST is atomic over committed
          // objects) — transient by construction: committed chunks are
          // immutable, so retrying converges. Fail only if it persists.
          if (attempt >= 3 || !transientListingRace(e)) throw e
          Thread.sleep(50L * attempt)
        case e: java.io.FileNotFoundException =>
          if (attempt >= 3) throw e
          Thread.sleep(50L * attempt)
        // nio analogue of the stat-after-list race: a writer's dot-temp
        // file can vanish between Files.walk's listing and its stat
        case e: java.nio.file.NoSuchFileException =>
          if (attempt >= 3) throw e
          Thread.sleep(50L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** A stat-after-list failure on an entry that no longer exists. The nio
    * walk surfaces it as UncheckedIOException(NoSuchFileException) — a
    * RuntimeException, so it lands here rather than the IOException arm. */
  private def transientListingRace(e: Throwable): Boolean = {
    val msg = Option(e.getMessage).getOrElse("")
    msg.contains("No such file or directory") ||
      msg.contains("cannot access") || {
        var c: Throwable = e.getCause
        var hit = false
        while (c != null && !hit) {
          hit = c.isInstanceOf[java.nio.file.NoSuchFileException] ||
            c.isInstanceOf[java.io.FileNotFoundException]
          c = c.getCause
        }
        hit
      }
  }

  /** Can this filter prune chunk FILES from the listing? Sequence bounds
    * use the layout contract — the file name is the LAST seq in the
    * chunk, chunks sort by seq, so chunk i holds seqs in
    * (seq_{i-1}, seq_i]; seqs are fixed-width digits, so lexicographic
    * order IS numeric order. Partition filters match the yyyy/MM/dd
    * object prefix directly. */
  private[sources] def prunable(f: Filter): Boolean = f match {
    case GreaterThan("sequenceNumber", _: String) => true
    case GreaterThanOrEqual("sequenceNumber", _: String) => true
    case LessThan("sequenceNumber", _: String) => true
    case LessThanOrEqual("sequenceNumber", _: String) => true
    case EqualTo("sequenceNumber", _: String) => true
    case EqualTo("partition", _: String) => true
    case StringStartsWith("partition", _: String) => true
    case _ => false
  }

  /** Drop chunks that provably contain no matching row. Conservative by
    * construction: a chunk survives unless EVERY possible seq in its
    * (exclusiveLower, nameSeq] interval is outside the filter — so
    * over-keeping is possible (Spark re-evaluates every filter row-wise;
    * none of these are claimed as fully handled), under-keeping is not. */
  private[sources] def pruneChunks(chunks: Seq[Chunk], filters: Seq[Filter]): Seq[Chunk] = {
    if (filters.isEmpty) return chunks
    val lowers = "" +: chunks.map(_.seq) // exclusive lower bound per chunk
    chunks.zip(lowers).filter { case (c, lower) =>
      filters.forall {
        case GreaterThan("sequenceNumber", v: String) => c.seq > v
        case GreaterThanOrEqual("sequenceNumber", v: String) => c.seq >= v
        case LessThan("sequenceNumber", v: String) => lower < v
        case LessThanOrEqual("sequenceNumber", v: String) => lower < v
        case EqualTo("sequenceNumber", v: String) => lower < v && c.seq >= v
        case EqualTo("partition", v: String) => c.datePrefix == v
        case StringStartsWith("partition", v: String) => c.datePrefix.startsWith(v)
        case _ => true
      }
    }.map(_._1)
  }
}

private final class RecordsTable(path: String) extends Table with SupportsRead {
  require(path != null, "graft-records requires a path (.load(path))")
  override def name(): String = s"graft-records($path)"
  override def schema(): StructType = RecordsSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
      // column pruning (V2 citizenship): a `select(sequenceNumber)` or a
      // cursor probe never materializes the payload column — the gzip
      // bytes still stream (the log is line-oriented), but per-row
      // substring/UTF8 conversion work drops with the pruned schema,
      // and the plan's scan output shows the truth
      private var pruned: StructType = RecordsSource.Schema
      override def pruneColumns(requiredSchema: StructType): Unit =
        pruned = requiredSchema
      // filter pushdown prunes chunk FILES (seq bounds against the
      // file-name cursor, partition equality/prefix against the date
      // prefix) — a cursor-resume query `seq > <checkpoint>` touches
      // only the tail of a year-deep log instead of re-listing every
      // byte. ALL filters stay residual (returned unchanged): the
      // source never claims row-exact semantics, Spark re-evaluates —
      // pruning can only over-keep, never drop a matching row.
      private var pushed: Array[Filter] = Array.empty
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters.filter(RecordsSource.prunable)
        filters
      }
      override def pushedFilters(): Array[Filter] = pushed
      override def build(): Scan =
        new RecordsScan(path, options.getInt("maxChunksPerTrigger", -1), pruned, pushed)
    }
}

private final class RecordsScan(path: String, maxChunksPerTrigger: Int,
    schema: StructType, filters: Array[Filter] = Array.empty) extends Scan {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      RecordsSource.pruneChunks(RecordsSource.listChunks(path), filters.toSeq)
        .map(c => ChunkPartition(c.path, c.datePrefix): InputPartition).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      new ChunkReaderFactory(schema)
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new RecordsMicroBatchStream(path, maxChunksPerTrigger, schema)
}

/** Streaming offset: the max committed file-name sequence number ("" before
  * any data — lexicographically below every fixed-width digit seq). */
private final case class SeqOffset(maxSeq: String) extends Offset {
  override def json(): String = {
    val b = new StringBuilder("{\"maxSeq\":\"")
    maxSeq.foreach { case '"' => b.append("\\\""); case '\\' => b.append("\\\\")
                     case c => b.append(c) }
    b.append("\"}").toString
  }
}

/** Admission control (T1's batch-size contract applied to replay): with
  * `maxChunksPerTrigger` set, each micro-batch admits at most that many
  * chunk files (i.e. ≤ n·maxRecordsPerFile records) — bounded-batch
  * backfill instead of one giant catch-up batch. `Trigger.AvailableNow`
  * freezes the target offset at query start and drains up to it in
  * rate-limited batches, then stops — the drain-the-backlog-and-exit mode. */
private final class RecordsMicroBatchStream(path: String, maxChunks: Int,
    schema: StructType)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Offset ceiling frozen by Trigger.AvailableNow at query start. */
  @volatile private var availableNowCap: Option[String] = None

  private def cappedChunks(): Seq[RecordsSource.Chunk] = {
    val all = RecordsSource.listChunks(path)
    availableNowCap match {
      case Some(cap) => all.filter(_.seq <= cap)
      case None => all
    }
  }

  override def prepareForTriggerAvailableNow(): Unit = {
    val chunks = RecordsSource.listChunks(path)
    availableNowCap = Some(if (chunks.isEmpty) "" else chunks.map(_.seq).max)
  }

  override def getDefaultReadLimit: ReadLimit =
    if (maxChunks > 0) ReadLimit.maxFiles(maxChunks) else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[SeqOffset].maxSeq
    val pending = cappedChunks().filter(_.seq > lo)
    val admitted = limit match {
      case f: ReadMaxFiles => pending.take(f.maxFiles())
      case _: ReadAllAvailable => pending
      case _ => pending // unsupported limit kinds admit everything (safe: superset)
    }
    SeqOffset(if (admitted.isEmpty) lo else admitted.map(_.seq).max)
  }

  override def reportLatestOffset(): Offset = {
    val chunks = cappedChunks()
    SeqOffset(if (chunks.isEmpty) "" else chunks.map(_.seq).max)
  }

  override def initialOffset(): Offset = SeqOffset("")
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is the entry point")
  override def deserializeOffset(json: String): Offset = {
    // single-field object, hand-parsed (no JSON lib dependency in the
    // connector): {"maxSeq":"<escaped>"}
    val marker = "\"maxSeq\":\""
    val start = json.indexOf(marker) + marker.length
    val b = new StringBuilder
    var i = start
    while (i < json.length && json.charAt(i) != '"') {
      if (json.charAt(i) == '\\') i += 1
      b.append(json.charAt(i)); i += 1
    }
    SeqOffset(b.toString)
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[SeqOffset].maxSeq
    val hi = end.asInstanceOf[SeqOffset].maxSeq
    RecordsSource.listChunks(path)
      .filter(c => c.seq > lo && c.seq <= hi)
      .map(c => ChunkPartition(c.path, c.datePrefix): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ChunkReaderFactory(schema)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private final case class ChunkPartition(path: String, datePrefix: String)
    extends InputPartition

private final class ChunkReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChunkPartition]
    // resolved once per partition, not per row: which of the (pruned)
    // output columns to populate, in the schema's requested order
    val fields: Array[Int] = schema.fieldNames.map {
      case "sequenceNumber" => 0
      case "data" => 1
      case "partition" => 2
      case other => throw new IllegalArgumentException(
        s"graft-records: unknown column '$other'")
    }
    new PartitionReader[InternalRow] {
      // shared conf: per-partition `new Configuration()` costs ~0.25 s of
      // XML parsing per task (see listingConf)
      private val fs = FileSystem.get(new java.net.URI(p.path), RecordsSource.listingConf)
      private val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.util.zip.GZIPInputStream(fs.open(new Path(p.path))), "UTF-8"))
      private val prefix = UTF8String.fromString(p.datePrefix)
      private var line: String = _
      override def next(): Boolean = { line = in.readLine(); line != null }
      override def get(): InternalRow = {
        // F11 fixed-offset split (utils.clj:17-19): 56-digit seq, space,
        // payload — only the REQUESTED columns convert to UTF8String
        val out = new Array[Any](fields.length)
        var i = 0
        while (i < fields.length) {
          out(i) = fields(i) match {
            case 0 => UTF8String.fromString(line.substring(0, math.min(56, line.length)))
            case 1 => UTF8String.fromString(if (line.length > 57) line.substring(57) else "")
            case 2 => prefix
          }
          i += 1
        }
        new GenericInternalRow(out)
      }
      override def close(): Unit = in.close()
    }
  }
}
