package graft.sinks

import java.io.FileNotFoundException
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` FileSystem with permission bits set through
  * java.nio — the data-plane half of the shell-out fix that
  * [[TableStore.NioStore]] (manifest control plane),
  * `RecordsSource.listChunks` (listings) and
  * [[graft.streaming.NioCheckpointFileManager]] (checkpoint metadata)
  * made for their paths.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process, and the stock local FS calls it for every file it
  * creates (each parquet/text part file AND its `.crc` sidecar) and for
  * every directory level `mkdirs` makes (`_temporary/0/_temporary/
  * attempt…/__bucket=b`), and each fork starts a stderr-reader thread
  * too. A lake statement makes a few dozen of those: on 4 cores,
  * creating a file in two new directories (four forks) took 25-33 ms
  * through the stock class and 0.24-0.58 ms through this one.
  *
  * This class is the same `LocalFileSystem` — a `ChecksumFileSystem`,
  * so `.crc` sidecars are still written and verified — over a
  * `RawLocalFileSystem` whose `setPermission` sets the identical mode
  * bits with `Files.setPosixFilePermissions` (one `chmod` syscall). The
  * umask is applied by the callers before `setPermission`, as in the
  * stock class, so modes come out the same.
  *
  * Falls back to the stock (shell) path for what nio cannot express: a
  * sticky bit, or a default filesystem without POSIX attributes.
  *
  * Wired as the session's `file:` implementation through
  * `spark.hadoop.fs.file.impl` in [[graft.Tables.sessionConf]]; the
  * shared Hadoop confs graft builds itself carry the same key
  * ([[NioLocalFileSystem.wire]]), because Hadoop caches FileSystem
  * instances by scheme and user, not by conf — whichever conf first asks
  * for `file:` in a JVM fixes the class for every later caller. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  val ConfKey = "fs.file.impl"
  val ClassName: String = classOf[NioLocalFileSystem].getName

  /** `conf` with this class as its `file:` implementation. */
  def wire(conf: Configuration): Configuration = { conf.set(ConfKey, ClassName); conf }

  private val posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The nine rwx bits of `mode` as nio permissions (declaration order
    * of [[PosixFilePermission]] is owner rwx, group rwx, others rwx —
    * bit 8 down to bit 0). */
  private def posixPerms(mode: Short): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) out.add(p)
    }
    out
  }

  private[sinks] final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit || !posix) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posixPerms(permission.toShort))
        catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getFile) }
  }
}
