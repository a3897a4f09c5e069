package graft.sinks

import java.nio.charset.StandardCharsets
import java.util.Base64

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.sources._

/** File-level data skipping for the manifest lake: per-file column
  * min/max/null-count statistics, collected from the parquet FOOTERS of
  * just-written files at merge/compact time (metadata-only reads — no
  * data pages touched, the Iceberg/Delta commit-time stats model) and
  * persisted next to each manifest as an advisory sidecar
  * (`_manifest/v<N>.stats`). Measured on a 4-core box with a warm JVM,
  * the 16 files of a 16-bucket, 5000-row table: 15-31 ms for all 16
  * footers on the driver (about 1-2 ms a file); opened through parquet's
  * default `open(InputFile)`, which builds a new Hadoop `Configuration`
  * per file, the same reads took 116-224 ms ([[openFooter]]).
  *
  * At read time [[graft.sources.ManifestSource]] evaluates the query's
  * pushed filters against each file's interval BEFORE handing the file
  * list to the parquet scan, so a selective predicate reads only the
  * files that can contain matches — at 100 TB the difference between a
  * full-table scan and a few file opens. Two pruning sources compose:
  *
  *  - **column stats**: a filter like `price > 1000` drops every file
  *    whose [min, max] interval excludes it. Effective exactly when the
  *    layout clusters values into files —
  *    [[ManifestUpsertSink.compactClustered]] produces that layout, and
  *    append-mostly ingest with time-correlated values gets it for free.
  *  - **key buckets**: the manifest records each file's bucket and the
  *    table's key column, so an equality/IN filter on the key hashes the
  *    literal (same `pmod(xxhash64(k), buckets)` the writer used) and
  *    keeps only that bucket's files — point lookups read 1/buckets of
  *    the table with no stats needed at all.
  *
  * Everything here is CONSERVATIVE: a missing sidecar, an unparseable
  * line, a column without stats, an unsupported literal type, a filter
  * shape we don't model — all evaluate to "may match", so skipping can
  * only ever remove files that provably contain no qualifying rows.
  * Correctness never depends on the sidecar existing (old tables predate
  * it and keep reading), which is also why the sidecar write is a plain
  * overwrite rather than a create-new commit: a torn/absent sidecar
  * costs speed, never rows.
  *
  * Supported stats kinds (everything else is skipped at collection):
  *  - 'L': integral-ordered — INT32/INT64 incl. DATE (days) and
  *    TIMESTAMP with MILLIS bounds normalized to MICROS at collection
  *    time (filter literals always convert to micros); NANOS timestamps,
  *    unsigned ints, TIME, and decimals all decline (no pruning) —
  *    their stats order or unit doesn't match the literal's. INT96
  *    excluded (deprecated, no usable stats).
  *  - 'D': FLOAT/DOUBLE widened to double; files whose min/max carry NaN
  *    record no interval (parquet NaN ordering is unreliable), and zero
  *    bounds are widened to ±0.0 so -0.0/+0.0 never prune wrongly.
  *  - 'S': BINARY annotated as UTF-8 string, compared as UNSIGNED BYTES —
  *    both parquet's stats order and Spark's `UTF8String` comparison, so
  *    the three orders agree by construction.
  */
object ManifestStats {

  /** One column's aggregated stats across a file's row groups. `min`/
    * `max` are None when any row group lacked usable stats. Values are
    * Long ('L'), Double ('D'), or Array[Byte] ('S'). */
  final case class ColStats(kind: Char, min: Option[Any], max: Option[Any], nulls: Option[Long])

  /** `bytes` = the file's on-disk length (-1 = unknown, pre-bytes
    * sidecars) — collected with the footer stats so the DSv2 scan can
    * report POST-PRUNING sizeInBytes/rowCount to Spark's planner
    * (auto-broadcast of small/pruned sides) with zero planning-time
    * filesystem calls. */
  final case class FileStats(rows: Long, cols: Map[String, ColStats], bytes: Long = -1L)

  // ------------------------------------------------------------ collect

  /** Footer-read stats for `paths` (driver-side, metadata-only). A file
    * that fails to read contributes no entry — advisory, never fatal. */
  def collect(paths: Seq[String]): Map[String, FileStats] =
    paths.flatMap(p => collectOne(p).map(p -> _)).toMap

  /** File count at which stats collection fans out to executors: the
    * measured crossover. A merge touches a handful of buckets, and a
    * full-rewrite compaction of a large table writes tens of thousands
    * of files, where serial driver reads stall the commit path for
    * seconds; below the crossover the fan-out's Spark job costs more
    * than the reads it spreads. Measured on 4 cores (local[4], warm
    * JVM, files of 300 rows × 3 columns, 5-7 rounds each), driver
    * [[collect]] against [[collectDistributed]]:
    *  - 64 files: 35-74 ms against 167-208 ms;
    *  - 256 files: 109-129 ms against 142-169 ms;
    *  - 512 files: 149-239 ms against 191-242 ms (even);
    *  - 768 files: 159-186 ms against 121-156 ms;
    *  - 1024 files: 175-274 ms against 154-193 ms;
    *  - 2048 files: 406-490 ms against 202-243 ms. */
  private[graft] val DistributedCollectThreshold = 512

  /** Footer stats collected ON EXECUTORS — one task per slice of the
    * written file list, byte-identical results to the driver path (same
    * collectOne per file; the merge of per-file maps is associative).
    * Used by full-rewrite compactions via [[collectAuto]]. */
  def collectDistributed(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): Map[String, FileStats] =
    spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.size, 64)))
      .flatMap(p => collectOne(p).map(p -> _))
      .collect().toMap

  /** Driver reads below [[DistributedCollectThreshold]] files, executor
    * fan-out at or above it. Falls back to the driver when no session is
    * active (pure-library callers). */
  def collectAuto(paths: Seq[String]): Map[String, FileStats] =
    if (paths.size < DistributedCollectThreshold) collect(paths)
    else org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) => collectDistributed(s, paths)
      case None => collect(paths)
    }

  private def collectOne(path: String): Option[FileStats] =
    try {
      val in = HadoopInputFile.fromPath(new HPath(path), TableStore.hadoopConf)
      val reader = openFooter(in)
      try Some(fileStats(reader, in.getLength)) finally reader.close()
    } catch { case NonFatal(_) => None }

  /** Open `in` for footer reads with read options built from `in`'s own
    * conf. Parquet's `open(InputFile)` ignores that conf: it builds its
    * options over a NEW Hadoop `Configuration`, which re-parses the
    * default XMLs for every file opened. The options are built per call,
    * not shared: building them is cheap, and [[collectDistributed]] opens
    * files from concurrent tasks, which must not share one options
    * object's codec factory. */
  private[graft] def openFooter(in: HadoopInputFile): ParquetFileReader =
    ParquetFileReader.open(in, HadoopReadOptions.builder(in.getConfiguration, in.getPath).build())

  /** The stats of the file open in `reader`, from its footer alone. */
  private[graft] def fileStats(reader: ParquetFileReader, bytes: Long): FileStats = {
    val blocks = reader.getFooter.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    // eligible top-level columns (path depth 1), keyed by name
    val perCol = scala.collection.mutable.Map[String, ColStats]()
    for (b <- blocks; c <- b.getColumns.asScala if c.getPath.size == 1) {
      val name = c.getPath.toDotString
      kindOf(c.getPrimitiveType).foreach { case (kind, scale) =>
        val s = chunkStats(kind, scale, c.getStatistics)
        perCol(name) = perCol.get(name) match {
          case None => s
          case Some(prev) => mergeCol(kind, prev, s)
        }
      }
    }
    FileStats(rows, perCol.toMap, bytes)
  }

  /** (kind, 'L'-scale): the scale multiplies integral bounds into the
    * SAME unit [[literalToDomain]] converts filter literals to.
    * Timestamps: literals always become MICROS, so MILLIS-written columns
    * (spark.sql.parquet.outputTimestampType=TIMESTAMP_MILLIS, or foreign
    * writers) scale ×1000 at collection time; NANOS and any unit we don't
    * model DECLINE ('None', no pruning) per the conservative contract.
    * Unsigned ints (UINT32/UINT64) also decline: parquet stores their
    * stats as signed two's-complement, Spark's literals are the unsigned
    * value — the orders disagree past the sign bit. */
  private def kindOf(t: PrimitiveType): Option[(Char, Long)] = {
    import PrimitiveType.PrimitiveTypeName._
    import LogicalTypeAnnotation._
    val logical = t.getLogicalTypeAnnotation
    logical match {
      case _: DecimalLogicalTypeAnnotation => None // scale reinterpretation
      case ts: TimestampLogicalTypeAnnotation => ts.getUnit match {
        case TimeUnit.MICROS => Some(('L', 1L))
        case TimeUnit.MILLIS => Some(('L', 1000L))
        case _ => None // NANOS: Spark models it only via nanosAsLong — decline
      }
      case it: IntLogicalTypeAnnotation if !it.isSigned() => None
      case _: TimeLogicalTypeAnnotation => None // TIME literals unmodeled
      case _ => t.getPrimitiveTypeName match {
        case INT32 | INT64 => Some(('L', 1L))
        case FLOAT | DOUBLE => Some(('D', 1L))
        case BINARY if logical.isInstanceOf[StringLogicalTypeAnnotation] =>
          Some(('S', 1L))
        case _ => None // BOOLEAN, INT96, FIXED_LEN: no skipping
      }
    }
  }

  private def chunkStats(kind: Char, scale: Long, s: Statistics[_]): ColStats = {
    val nulls = if (s != null && s.isNumNullsSet) Some(s.getNumNulls) else None
    if (s == null || s.isEmpty || !s.hasNonNullValue)
      return ColStats(kind, None, None, nulls)
    val (mn, mx) = (toDomain(kind, scale, s.genericGetMin), toDomain(kind, scale, s.genericGetMax))
    (mn, mx) match {
      case (Some(a), Some(b)) => ColStats(kind, Some(widenMin(kind, a)), Some(widenMax(kind, b)), nulls)
      case _ => ColStats(kind, None, None, nulls)
    }
  }

  private def toDomain(kind: Char, scale: Long, v: Any): Option[Any] =
    try (kind, v) match {
      case ('L', i: java.lang.Integer) => Some(Math.multiplyExact(i.longValue(), scale))
      case ('L', l: java.lang.Long) => Some(Math.multiplyExact(l.longValue(), scale))
      case ('D', f: java.lang.Float) if !f.isNaN => Some(f.doubleValue())
      case ('D', d: java.lang.Double) if !d.isNaN => Some(d.doubleValue())
      case ('S', b: Binary) => Some(b.getBytes)
      case _ => None
    } catch { case _: ArithmeticException => None } // scaled bound overflows: decline

  /** -0.0/+0.0 compare unequal via Double.compare but equal in the data's
    * order; widen zero bounds so neither sign can prune the other. */
  private def widenMin(kind: Char, v: Any): Any =
    if (kind == 'D' && v.asInstanceOf[Double] == 0.0) -0.0 else v
  private def widenMax(kind: Char, v: Any): Any =
    if (kind == 'D' && v.asInstanceOf[Double] == 0.0) 0.0 else v

  private def mergeCol(kind: Char, a: ColStats, b: ColStats): ColStats = ColStats(
    kind,
    for (x <- a.min; y <- b.min) yield if (cmp(kind, x, y) <= 0) x else y,
    for (x <- a.max; y <- b.max) yield if (cmp(kind, x, y) >= 0) x else y,
    for (x <- a.nulls; y <- b.nulls) yield x + y)

  /** The sidecar bound-domain comparator, exposed for the connector's
    * metadata-only aggregate pushdown (MIN/MAX reduce over per-file
    * bounds must use exactly the order the bounds were collected in). */
  def cmpPublic(kind: Char, a: Any, b: Any): Int = cmp(kind, a, b)

  private def cmp(kind: Char, a: Any, b: Any): Int = kind match {
    case 'L' => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case 'D' => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case 'S' => java.util.Arrays.compareUnsigned(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  }

  // ------------------------------------------------------------- codec

  /** Sidecar FORMAT VERSION, first line `V<TAB>2`. Bumped when the
    * meaning of encoded bounds changes — v2 = timestamp bounds scaled to
    * MICROS at collection time. A sidecar without the current version
    * line decodes EMPTY: its 'L' bounds may be in the wrong unit (a
    * MILLIS-vintage line carried forward by commitRebasing would compare
    * 1000× low against micros filter literals and prune live rows), and
    * stats are advisory — a discarded sidecar costs a re-collect or an
    * unpruned scan, never rows. */
  val FormatVersion = 2

  /** Sidecar text form. `V<TAB>2` version line, then
    * `F<TAB>path<TAB>rows<TAB>bytes` per file (bytes ADDITIVE within v2 —
    * -1 = unknown, and the decoder accepts the old 3-field form, so
    * carried-forward lines from pre-bytes sidecars keep pruning), then
    * `C<TAB>path<TAB>col<TAB>kind<TAB>nulls<TAB>min<TAB>max` per column
    * ('S' values base64; nulls -1 = unknown; empty min/max = unknown). */
  def encode(stats: Map[String, FileStats]): String = {
    val sb = new StringBuilder
    sb.append("V\t").append(FormatVersion).append('\n')
    for ((path, fs) <- stats.toSeq.sortBy(_._1)) {
      sb.append("F\t").append(path).append('\t').append(fs.rows)
        .append('\t').append(fs.bytes).append('\n')
      for ((col, cs) <- fs.cols.toSeq.sortBy(_._1)) {
        sb.append("C\t").append(path).append('\t').append(enc(col))
          .append('\t').append(cs.kind)
          .append('\t').append(cs.nulls.getOrElse(-1L))
          .append('\t').append(cs.min.map(encVal(cs.kind, _)).getOrElse(""))
          .append('\t').append(cs.max.map(encVal(cs.kind, _)).getOrElse(""))
          .append('\n')
      }
    }
    sb.result()
  }

  /** Tolerant decode: any malformed input — including a sidecar from a
    * PREVIOUS format version, whose bounds may mean something else —
    * yields an EMPTY map. Stats are advisory; a torn or outdated sidecar
    * must cost speed, not correctness. */
  def decode(text: String): Map[String, FileStats] =
    try {
      val files = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
      val cols = scala.collection.mutable.Map[String, Map[String, ColStats]]()
        .withDefaultValue(Map.empty)
      val lines = text.linesIterator.filter(_.nonEmpty)
      if (!lines.hasNext || lines.next() != s"V\t$FormatVersion")
        return Map.empty // pre-versioning or foreign-version sidecar: discard
      for (line <- lines) line.split("\t", -1) match {
        case Array("F", path, rows) => files(path) = (rows.toLong, -1L)
        case Array("F", path, rows, bytes) => files(path) = (rows.toLong, bytes.toLong)
        case Array("C", path, col, kind, nulls, mn, mx) =>
          val k = kind.charAt(0)
          cols(path) = cols(path) + (dec(col) -> ColStats(k,
            if (mn.isEmpty) None else Some(decVal(k, mn)),
            if (mx.isEmpty) None else Some(decVal(k, mx)),
            if (nulls == "-1") None else Some(nulls.toLong)))
        case _ => throw new IllegalArgumentException(s"bad stats line: $line")
      }
      files.map { case (p, (r, b)) => p -> FileStats(r, cols(p), b) }.toMap
    } catch { case NonFatal(_) => Map.empty }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  // ------------------------------------------------ column-level (ndv)

  /** TABLE-LEVEL per-column statistics — the CBO vocabulary the per-file
    * sidecar can't supply: `ndv` (exact distinct count) and `nulls`,
    * computed by `ANALYZE TABLE ... FOR COLUMNS` over the logical
    * snapshot and stored per VERSION (`_manifest/v<N>.colstats`).
    *
    * `sketch` is the column's mergeable HLL sketch (Apache DataSketches
    * binary image over `xxhash64(value)`, nulls excluded — the
    * Iceberg-Puffin shape) recorded alongside the exact census: it is
    * what lets a LATER commit FOLD the census forward
    * ([[ManifestUpsertSink.foldColStats]]) instead of going dark —
    * union the batch's one-pass sketch, add its null counts, serve the
    * merged estimate with `exact=false`. Deletes and replaced rows
    * cannot subtract from a sketch, so folded entries are
    * ESTIMATE-grade upper bounds — exactly what the planner's
    * cardinality feed wants; a fresh ANALYZE restores exactness.
    * Sketch-less entries (pre-sketch vintages) fold to dark, the old
    * contract. */
  final case class ColNdv(ndv: Long, nulls: Long,
      sketch: Option[Array[Byte]] = None, exact: Boolean = true,
      hist: Option[EquiHist] = None)

  /** An EQUI-HEIGHT histogram of one column (catalyst's shape: every
    * bin holds ~`height` rows; `bins` are (lo, hi, ndv) in the column's
    * double domain — numeric value, date days, timestamp micros).
    * Computed by `ANALYZE ... FOR COLUMNS` (percentile endpoints + one
    * ndv-per-interval pass) and served through the scan's DSv2 column
    * statistics, where Spark's filter estimation reads SKEW that
    * ndv+bounds alone cannot express (a hot key's equality selectivity
    * is its bins' mass, not 1/ndv). Folds DROP the histogram (bin
    * masses can't incrementally merge the way sketches do) — it serves
    * until the next commit, exactness until the next ANALYZE. */
  final case class EquiHist(height: Double, bins: Seq[(Double, Double, Long)])

  /** The `lgConfigK` of every colstats HLL sketch — matching sketches
    * union losslessly; ~1.6% standard error. */
  val HllLgK = 12

  /** Union-merge two colstats HLL sketch images → (merged image,
    * estimated distinct count). */
  def mergeHll(a: Array[Byte], b: Array[Byte]): (Array[Byte], Long) = {
    val u = new org.apache.datasketches.hll.Union(HllLgK)
    u.update(org.apache.datasketches.hll.HllSketch.heapify(a))
    u.update(org.apache.datasketches.hll.HllSketch.heapify(b))
    val r = u.getResult
    (r.toCompactByteArray, Math.round(r.getEstimate))
  }

  /** Encode/decode of the colstats sidecar:
    * `N<TAB>name<TAB>ndv<TAB>nulls[<TAB>sketchB64<TAB>exact01]` lines
    * under the same version header + tolerant-decode rules as the file
    * sidecar (a torn file reads as "no column stats"; the short arity is
    * the pre-sketch vintage). */
  def encodeCol(stats: Map[String, ColNdv]): String = {
    val sb = new StringBuilder
    sb.append("V\t").append(FormatVersion).append('\n')
    for ((name, cs) <- stats.toSeq.sortBy(_._1)) {
      sb.append("N\t").append(enc(name)).append('\t').append(cs.ndv)
        .append('\t').append(cs.nulls)
      cs.sketch.foreach { sk =>
        sb.append('\t').append(Base64.getEncoder.encodeToString(sk))
          .append('\t').append(if (cs.exact) "1" else "0")
      }
      sb.append('\n')
      // histogram line: `H<TAB>name<TAB>height<TAB>lo:hi:ndv;...`
      // (Double.toString round-trips exactly; names can't carry ';')
      cs.hist.foreach { h =>
        sb.append("H\t").append(enc(name)).append('\t').append(h.height)
          .append('\t')
          .append(h.bins.map { case (lo, hi, nd) => s"$lo:$hi:$nd" }.mkString(";"))
          .append('\n')
      }
    }
    sb.result()
  }

  def decodeCol(text: String): Map[String, ColNdv] =
    try {
      val lines = text.linesIterator.filter(_.nonEmpty)
      if (!lines.hasNext || lines.next() != s"V\t$FormatVersion") return Map.empty
      val cols = scala.collection.mutable.LinkedHashMap.empty[String, ColNdv]
      for (l <- lines) l.split("\t", -1) match {
        case Array("N", name, ndv, nulls) =>
          cols(dec(name)) = ColNdv(ndv.toLong, nulls.toLong)
        case Array("N", name, ndv, nulls, sk, ex) =>
          cols(dec(name)) = ColNdv(ndv.toLong, nulls.toLong,
            Some(Base64.getDecoder.decode(sk)), ex == "1")
        case Array("H", name, height, bins) =>
          val n = dec(name)
          val parsed = if (bins.isEmpty) Nil else bins.split(";").toSeq.map { b =>
            val Array(lo, hi, nd) = b.split(":", 3)
            (lo.toDouble, hi.toDouble, nd.toLong)
          }
          // an H line for an unlisted column is a torn file: fail the decode
          cols(n) = cols(n).copy(hist = Some(EquiHist(height.toDouble, parsed)))
        case l => throw new IllegalArgumentException(s"bad colstats line: ${l.mkString("\t")}")
      }
      cols.toMap
    } catch { case NonFatal(_) => Map.empty }

  private def encVal(kind: Char, v: Any): String = kind match {
    case 'L' => v.asInstanceOf[Long].toString
    case 'D' => v.asInstanceOf[Double].toString // Double.toString round-trips exactly
    case 'S' => Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]])
  }

  private def decVal(kind: Char, s: String): Any = kind match {
    case 'L' => s.toLong
    case 'D' => s.toDouble
    case 'S' => Base64.getDecoder.decode(s)
  }

  // ------------------------------------------------------------ pruning

  /** May file (`bucket`, `fs`) contain a row satisfying `filter`?
    * Conservative three-valued logic collapsed to boolean: unknown =
    * true. `keyInfo` = (key column, committed bucket count) enables
    * bucket pruning for key equality/IN. */
  def mayMatch(bucket: Long, fs: Option[FileStats], keyInfo: Option[(String, Int)],
      filter: Filter): Boolean = filter match {
    case And(l, r) => mayMatch(bucket, fs, keyInfo, l) && mayMatch(bucket, fs, keyInfo, r)
    case Or(l, r) => mayMatch(bucket, fs, keyInfo, l) || mayMatch(bucket, fs, keyInfo, r)
    case EqualTo(a, v) => eqMayMatch(bucket, fs, keyInfo, a, v)
    case EqualNullSafe(a, v) if v != null => eqMayMatch(bucket, fs, keyInfo, a, v)
    case EqualNullSafe(a, _) => nullMayMatch(fs, a) // <=> NULL is IS NULL
    case In(a, vs) =>
      // an IN over only-null values matches nothing, but stay conservative
      vs == null || vs.isEmpty || vs.exists(v => v != null && eqMayMatch(bucket, fs, keyInfo, a, v))
    case GreaterThan(a, v) => rangeMayMatch(fs, a, v, (c: Int) => c > 0, useMax = true)
    case GreaterThanOrEqual(a, v) => rangeMayMatch(fs, a, v, (c: Int) => c >= 0, useMax = true)
    case LessThan(a, v) => rangeMayMatch(fs, a, v, (c: Int) => c < 0, useMax = false)
    case LessThanOrEqual(a, v) => rangeMayMatch(fs, a, v, (c: Int) => c <= 0, useMax = false)
    case IsNull(a) => nullMayMatch(fs, a)
    case IsNotNull(a) =>
      // prunable only when the file is provably all-null for the column
      (for (f <- fs; c <- f.cols.get(a); n <- c.nulls) yield n < f.rows).getOrElse(true)
    case _ => true // Not, StringStartsWith, ... : no model, never prune
  }

  /** May a file whose ENTIRE content lives in date partition `pv`
    * (ISO yyyy-MM-dd) satisfy `filter`? Used by the connector's
    * partition pruning: unlike min/max stats, the partition value bounds
    * the file exactly, so equality and ranges on the partition column
    * refute files outright. Conservative for everything it cannot model;
    * only strict-ISO string literals and date literals participate (a
    * loosely-spelled date string would compare against the canonical
    * partition form and prune a file that matches in-scan). A dated file
    * provably holds NO nulls of the partition column, so IsNull prunes.
    *
    * `rangesOk` must be true ONLY for DateType partition columns: there
    * the raw value IS the date, so canonical-ISO order equals the scan's
    * comparison order. A STRING column may hold non-canonical spellings
    * whose lexicographic order diverges from their dates' ("2024-1-5" >
    * "2024-01-15" as strings, earlier as dates) — ranges there could
    * prune files whose raw values match in-scan, so only equality (where
    * canonicalization can never produce a false mismatch against an ISO
    * literal) participates. */
  def partMayMatch(pv: String, pcol: String, filter: Filter,
      rangesOk: Boolean = true): Boolean = {
    def dateStr(v: Any): Option[String] = v match {
      case d: java.sql.Date => Some(d.toString)
      case d: java.time.LocalDate => Some(d.toString)
      case s: String if s.matches("\\d{4}-\\d{2}-\\d{2}") => Some(s)
      case _ => None
    }
    filter match {
      case And(l, r) => partMayMatch(pv, pcol, l, rangesOk) && partMayMatch(pv, pcol, r, rangesOk)
      case Or(l, r) => partMayMatch(pv, pcol, l, rangesOk) || partMayMatch(pv, pcol, r, rangesOk)
      case EqualTo(a, v) if a == pcol => dateStr(v).forall(_ == pv)
      case EqualNullSafe(a, v) if a == pcol && v != null => dateStr(v).forall(_ == pv)
      case EqualNullSafe(a, _) if a == pcol => false // <=> NULL: dated file has none
      case In(a, vs) if a == pcol =>
        vs == null || vs.isEmpty ||
          vs.exists(v => v != null && dateStr(v).forall(_ == pv))
      case GreaterThan(a, v) if a == pcol && rangesOk => dateStr(v).forall(pv > _)
      case GreaterThanOrEqual(a, v) if a == pcol && rangesOk => dateStr(v).forall(pv >= _)
      case LessThan(a, v) if a == pcol && rangesOk => dateStr(v).forall(pv < _)
      case LessThanOrEqual(a, v) if a == pcol && rangesOk => dateStr(v).forall(pv <= _)
      case IsNull(a) if a == pcol => false
      case _ => true
    }
  }

  private def nullMayMatch(fs: Option[FileStats], a: String): Boolean =
    (for (f <- fs; c <- f.cols.get(a); n <- c.nulls) yield n > 0).getOrElse(true)

  private def eqMayMatch(bucket: Long, fs: Option[FileStats], keyInfo: Option[(String, Int)],
      a: String, v: Any): Boolean = {
    val bucketOk = keyInfo match {
      case Some((key, buckets)) if a == key =>
        bucketOf(v, buckets).forall(_ == bucket)
      case _ => true
    }
    bucketOk &&
      rangeMayMatch(fs, a, v, (c: Int) => c >= 0, useMax = true) && // max >= v
      rangeMayMatch(fs, a, v, (c: Int) => c <= 0, useMax = false)   // min <= v
  }

  /** Compare the file's min or max against literal `v`; `ok` receives
    * compare(bound, v). Unknown stats or unconvertible literal = true. */
  private def rangeMayMatch(fs: Option[FileStats], a: String, v: Any,
      ok: Int => Boolean, useMax: Boolean): Boolean = (for {
    f <- fs
    c <- f.cols.get(a)
    bound <- if (useMax) c.max else c.min
    lit <- literalToDomain(c.kind, v)
  } yield ok(cmp(c.kind, bound, lit))).getOrElse(true)

  /** Literal (V1 Filter value, post type-coercion so it matches the
    * column type) → stats domain. None = unsupported, no pruning. */
  private def literalToDomain(kind: Char, v: Any): Option[Any] = (kind, v) match {
    case ('L', i: java.lang.Integer) => Some(i.longValue())
    case ('L', l: java.lang.Long) => Some(l.longValue())
    case ('L', s: java.lang.Short) => Some(s.longValue())
    case ('L', b: java.lang.Byte) => Some(b.longValue())
    case ('L', d: java.sql.Date) => Some(DateTimeUtils.fromJavaDate(d).toLong)
    case ('L', d: java.time.LocalDate) => Some(d.toEpochDay)
    case ('L', t: java.sql.Timestamp) => Some(DateTimeUtils.fromJavaTimestamp(t))
    case ('L', t: java.time.Instant) => Some(DateTimeUtils.instantToMicros(t))
    case ('D', d: java.lang.Double) if !d.isNaN => Some(d.doubleValue())
    case ('D', f: java.lang.Float) if !f.isNaN => Some(f.doubleValue())
    case ('S', s: String) => Some(s.getBytes(StandardCharsets.UTF_8))
    case _ => None
  }

  /** The bucket `pmod(xxhash64(v), buckets)` assigns — the EXACT
    * write-path function ([[ManifestUpsertSink.upsertBatch]] uses the
    * `xxhash64` Column function, seed 42), evaluated driver-side on the
    * filter literal. Only the key types the sink realistically buckets
    * (integral, string) are supported; anything else declines to prune.
    * V1 filter literals are post-coercion, so their type matches the
    * written column type and the hash matches the writer's bytes. */
  def bucketOf(v: Any, buckets: Int): Option[Long] = bucketOfTuple(Seq(v), buckets)

  /** Composite form: the bucket `pmod(xxhash64(v1, v2, ...), buckets)`
    * assigns — one hash over ALL key components in spec order, exactly
    * the write path's variadic `xxhash64`. Any unsupported component
    * type declines to prune. */
  def bucketOfTuple(vs: Seq[Any], buckets: Int): Option[Long] = {
    val lits = vs.map {
      case i: java.lang.Integer => Some(Literal(i.intValue()))
      case l: java.lang.Long => Some(Literal(l.longValue()))
      case s: String => Some(Literal(s))
      case _ => None
    }
    if (lits.exists(_.isEmpty)) None
    else Some {
      val h = new XxHash64(lits.flatten).eval(null).asInstanceOf[Long]
      ((h % buckets) + buckets) % buckets
    }
  }
}
