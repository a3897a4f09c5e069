package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{DirectoryNotEmptyException, Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The manifest sink's storage seam: the half-dozen filesystem verbs the
  * lakehouse layout needs (list a directory, walk a data tree, read/write
  * small text, atomic rename-if-absent commit, delete), behind one trait
  * so the SAME commit protocol runs against plain java.nio paths and
  * Hadoop `FileSystem` URIs. Data files themselves always move through
  * Spark's parquet reader/writer (which speaks Hadoop paths natively);
  * this trait carries only the manifest-log control plane.
  *
  * Shell-outs: without libhadoop, Hadoop's stock local FS forks a
  * process for permission bits — `chmod` on every file and directory it
  * creates, `ls`/`stat` when a listing's permissions are read. The nio
  * store avoids Hadoop altogether; Spark's data-plane writes and the
  * Hadoop store's `file:` roots resolve `file:` to
  * [[NioLocalFileSystem]] (wired in `Tables.sessionConf` and in
  * `TableStore.hadoopConf`), which sets modes with one syscall instead.
  *
  * Dispatch is by path scheme ([[TableStore.forPath]]): a scheme-less
  * `/tmp/...` root gets the nio implementation (no Hadoop overhead — a
  * `RawLocalFileSystem` list shells out per entry for permission bits),
  * while `file:/...`, `hdfs://...`, `s3a://...` roots go through the
  * Hadoop `FileSystem` API — the seam a real object store mounts into
  * without touching the sink. Commit semantics per backend:
  *
  *  - nio: temp write + `ATOMIC_MOVE`; a racing writer loses the move.
  *  - Hadoop: temp write + `rename`; HDFS renames onto an existing path
  *    return false (loud failure). Filesystems whose rename overwrites
  *    (raw local, and S3A without a committer) fall back to the
  *    exists-check before the rename — the same single-writer optimistic
  *    window Delta OSS has on plain object stores without a LogStore;
  *    multi-writer coordination is a catalog/lock service's job.
  */
trait TableStore extends Serializable {

  /** Entry NAMES (not paths) directly under `dir`; empty if absent. */
  def listNames(dir: String): Seq[String]

  /** All regular-file PATHS under `dir`, recursively; empty if absent. */
  def walkFiles(dir: String): Seq[String]

  def readString(path: String): String

  def exists(path: String): Boolean

  /** Write `content` to `dir/name` with create-new semantics: temp file +
    * rename-if-absent. Throws [[IllegalStateException]] when `dir/name`
    * already exists (a concurrent writer won the commit). */
  def commitNew(dir: String, name: String, content: String): Unit

  /** Write `content` to `dir/name`, OVERWRITING any existing file — for
    * advisory artifacts (the stats sidecar) whose absence or replay must
    * cost speed, never correctness; the commit protocol proper stays on
    * [[commitNew]]. */
  def putString(dir: String, name: String, content: String): Unit

  def deleteFile(path: String): Unit

  /** Remove `dir` iff it is an empty directory; no-op otherwise. */
  def deleteDirIfEmpty(dir: String): Unit

  /** Rename `src` (file OR directory) to `dst`; false when `dst` already
    * exists or the move fails. Used to finalize a staged change-feed dir
    * under its committed version name — advisory (a failed rename is
    * healed by the next writer), so no loud failure mode. */
  def rename(src: String, dst: String): Boolean

  /** Last-modified epoch millis of `path`; 0 when absent. Drives the
    * age-gated orphan sweep in vacuum — never a correctness input. */
  def mtime(path: String): Long
}

object TableStore {

  /** Scheme dispatch: URIs with a scheme (`file:`, `hdfs:`, `s3a:`, ...)
    * go through Hadoop's `FileSystem`; bare local paths stay on java.nio.
    * The probe is a syntactic scheme match, not `new URI` — a local root
    * containing spaces or other URI-illegal characters is a valid nio
    * path and must not blow up sink construction. */
  def forPath(root: String): TableStore =
    if (root.matches("[a-zA-Z][a-zA-Z0-9+.\\-]*:.*")) new HadoopStore else NioStore

  /** java.nio implementation — the local-FS fast path. */
  object NioStore extends TableStore {
    def listNames(dir: String): Seq[String] = {
      val d = Paths.get(dir)
      if (!Files.isDirectory(d)) return Seq.empty
      val stream = Files.list(d)
      try stream.iterator().asScala.map(_.getFileName.toString).toSeq
      finally stream.close()
    }

    def walkFiles(dir: String): Seq[String] = {
      val d = Paths.get(dir)
      if (!Files.isDirectory(d)) return Seq.empty
      val stream = Files.walk(d)
      try stream.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSeq
      finally stream.close()
    }

    def readString(path: String): String = Files.readString(Paths.get(path))

    def exists(path: String): Boolean = Files.exists(Paths.get(path))

    def commitNew(dir: String, name: String, content: String): Unit = {
      val d = Paths.get(dir)
      Files.createDirectories(d)
      val tmp = d.resolve(s".tmp-$name-${java.util.UUID.randomUUID()}")
      Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
      val target = d.resolve(name)
      // hard-link is the TRUE atomic create-new: it fails (atomically)
      // when the target exists, with the full content already durable —
      // no exists-check race window at all. Filesystems without link
      // support fall back to exists-check + ATOMIC_MOVE (the Hadoop
      // store's documented single-writer window).
      try {
        Files.createLink(target, tmp)
        Files.deleteIfExists(tmp)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          throw new IllegalStateException(s"concurrent commit of $name under $dir")
        case _: UnsupportedOperationException =>
          if (Files.exists(target)) {
            Files.deleteIfExists(tmp)
            throw new IllegalStateException(s"concurrent commit of $name under $dir")
          }
          Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      }
    }

    def putString(dir: String, name: String, content: String): Unit = {
      val d = Paths.get(dir)
      Files.createDirectories(d)
      val tmp = d.resolve(s".tmp-$name-${java.util.UUID.randomUUID()}")
      Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }

    def deleteFile(path: String): Unit = Files.deleteIfExists(Paths.get(path))

    def deleteDirIfEmpty(dir: String): Unit = {
      val d = Paths.get(dir)
      if (Files.isDirectory(d)) {
        try Files.delete(d)
        catch { case _: DirectoryNotEmptyException => () }
      }
    }

    def rename(src: String, dst: String): Boolean = {
      val (s, d) = (Paths.get(src), Paths.get(dst))
      if (!Files.exists(s) || Files.exists(d)) false
      else try { Files.createDirectories(d.getParent); Files.move(s, d); true }
      catch { case _: java.io.IOException => false }
    }

    def mtime(path: String): Long = {
      val p = Paths.get(path)
      if (!Files.exists(p)) 0L else Files.getLastModifiedTime(p).toMillis
    }
  }

  /** One shared read-only `Configuration` for every Hadoop store:
    * construction re-parses the default XMLs (~0.25 s), and stores are
    * created per call on the read paths (`forPath` in snapshotFiles /
    * the DSv2 connector). Never mutated after construction, so sharing
    * is safe; `FileSystem.get` additionally caches the FS per scheme —
    * and by scheme only, not by conf, so this conf names the same
    * `file:` class the session does ([[NioLocalFileSystem.wire]]): the
    * footer reader can be a JVM's first `file:` caller, and a stock
    * instance cached from here would serve every later session write. */
  @transient private lazy val sharedConf = NioLocalFileSystem.wire(new Configuration())

  /** The shared conf, for metadata reads that need a Hadoop
    * `Configuration` (parquet footer stats) without re-parsing the
    * default XMLs per call. Passing it in a `HadoopInputFile` is not
    * enough: parquet's `ParquetFileReader.open(InputFile)` ignores the
    * InputFile's conf and builds its read options over a new one, so
    * footer readers must build their options from this conf as well
    * ([[ManifestStats.openFooter]]). */
  private[graft] def hadoopConf: Configuration = sharedConf

  /** Hadoop `FileSystem` implementation — one code path for `file:`,
    * `hdfs:`, `s3a:` roots; driver-side only. */
  final class HadoopStore extends TableStore {
    private def conf = TableStore.sharedConf

    private def fs(p: HPath): FileSystem = p.getFileSystem(conf)

    def listNames(dir: String): Seq[String] = {
      val d = new HPath(dir)
      val f = fs(d)
      if (!f.exists(d)) Seq.empty
      else f.listStatus(d).toSeq.map(_.getPath.getName)
    }

    def walkFiles(dir: String): Seq[String] = {
      val d = new HPath(dir)
      val f = fs(d)
      if (!f.exists(d)) return Seq.empty
      val out = Seq.newBuilder[String]
      val it = f.listFiles(d, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile) out += st.getPath.toString
      }
      out.result()
    }

    def readString(path: String): String = {
      val p = new HPath(path)
      val in = fs(p).open(p)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    }

    def exists(path: String): Boolean = { val p = new HPath(path); fs(p).exists(p) }

    def commitNew(dir: String, name: String, content: String): Unit = {
      val d = new HPath(dir)
      val f = fs(d)
      f.mkdirs(d)
      val tmp = new HPath(d, s".tmp-$name-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
      val target = new HPath(d, name)
      // exists-check guards backends whose rename overwrites (raw local,
      // bare S3A); HDFS additionally fails the rename itself (false).
      if (f.exists(target) || !f.rename(tmp, target)) {
        f.delete(tmp, false)
        throw new IllegalStateException(s"concurrent commit of $name under $dir")
      }
    }

    def putString(dir: String, name: String, content: String): Unit = {
      val d = new HPath(dir)
      val f = fs(d)
      f.mkdirs(d)
      val tmp = new HPath(d, s".tmp-$name-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
      val target = new HPath(d, name)
      // delete-then-rename is not atomic; a reader racing the window sees
      // a missing sidecar and simply skips pruning — the advisory contract
      f.delete(target, false)
      if (!f.rename(tmp, target)) f.delete(tmp, false)
    }

    def deleteFile(path: String): Unit = { val p = new HPath(path); fs(p).delete(p, false); () }

    def deleteDirIfEmpty(dir: String): Unit = {
      val d = new HPath(dir)
      val f = fs(d)
      if (f.exists(d) && f.listStatus(d).isEmpty) { f.delete(d, false); () }
    }

    def rename(src: String, dst: String): Boolean = {
      val (s, d) = (new HPath(src), new HPath(dst))
      val f = fs(s)
      try f.exists(s) && !f.exists(d) && { f.mkdirs(d.getParent); f.rename(s, d) }
      catch { case _: java.io.IOException => false }
    }

    def mtime(path: String): Long = {
      val p = new HPath(path)
      val f = fs(p)
      if (!f.exists(p)) 0L else f.getFileStatus(p).getModificationTime
    }
  }
}
