package graft

import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.{ManifestUpsertSink, NioLocalFileSystem, TableStore}

/** Local data-plane writes through [[NioLocalFileSystem]]: the session
  * resolves `file:` to it, a lake statement starts no process, and the
  * modes and `.crc` sidecars it leaves are the stock local FS's. */
class LocalWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The session's `file:` FileSystem. Hadoop caches FileSystems by
    * scheme and user, not by conf, so a suite that ran earlier in this
    * JVM and asked for `file:` through a plain `new Configuration()`
    * (a bare parquet writer, say) has cached the stock class for every
    * later caller. Such an instance is closed once — which only drops
    * it from the cache — so these tests see what a fresh session sees. */
  private lazy val sessionFs: FileSystem = {
    val conf = spark.sessionState.newHadoopConf()
    val cached = new Path(tmp("graft_localfs_")).getFileSystem(conf)
    if (cached.isInstanceOf[NioLocalFileSystem]) cached
    else { cached.close(); new Path(tmp("graft_localfs_")).getFileSystem(conf) }
  }

  /** The commands of every process the JVM starts while `body` runs. */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      val out = Files.createTempFile("graft_localfs_", ".jfr")
      try {
        rec.dump(out)
        RecordingFile.readAllEvents(out).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
      } finally Files.deleteIfExists(out)
    } finally rec.close()
  }

  /** `fs` initialized outside the FileSystem cache, under `umask`. */
  private def initialized(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mask", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff

  /** Relative path → permission bits of every entry under `root`. */
  private def modes(root: String): Map[String, Int] = {
    val base = Paths.get(root)
    val s = Files.walk(base)
    try s.iterator().asScala.filter(_ != base)
      .map(p => base.relativize(p).toString -> mode(p)).toMap
    finally s.close()
  }

  test("session wiring: the session and graft's shared Hadoop conf resolve file: to NioLocalFileSystem") {
    assert(sessionFs.isInstanceOf[NioLocalFileSystem],
      s"sessionConf must route file: writes through the nio FS, got ${sessionFs.getClass}")
    assert(spark.sessionState.newHadoopConf().get(NioLocalFileSystem.ConfKey) ==
      NioLocalFileSystem.ClassName)
    assert(TableStore.hadoopConf.get(NioLocalFileSystem.ConfKey) == NioLocalFileSystem.ClassName,
      "the footer reader's conf must name the same class, or it can cache the stock one")
  }

  test("CoW upsert, MoR delete, MoR upsert and an incremental compaction start no process") {
    import spark.implicits._
    assert(sessionFs.isInstanceOf[NioLocalFileSystem])
    val root = tmp("graft_localfs_lake_")
    val sink = new ManifestUpsertSink(root, "id", 4)
    sink.upsertBatch((1 to 40).map(i => (i.toLong, s"p$i", 1L)).toDF("id", "p", "seq"), "seq", 0L)
    org.apache.spark.TestProcessProbes.warm()
    val started = processesStartedBy {
      sink.upsertBatch(Seq((1L, "u1", 2L), (41L, "n41", 2L)).toDF("id", "p", "seq"), "seq", 1L)
      sink.deleteKeysMergeOnRead(Seq(5L, 6L).toDF("id"), 2L)
      sink.upsertMergeOnRead(Seq((2L, "u2", 3L), (42L, "n42", 3L)).toDF("id", "p", "seq"), "seq", 3L)
      sink.compactIncremental(spark, minFilesPerBucket = 2)
    }
    assert(started.isEmpty, s"a local lake statement forked: ${started.mkString("; ")}")
    val m = ManifestUpsertSink.latestManifest(root).get
    assert(m.version == 4L, "every statement committed")
    assert(sink.read(spark).count() == 40L)
  }

  test("files and directories get the stock local FS's modes under the same umask") {
    val payload = Array.fill[Byte](3000)(7)
    def layout(fs: FileSystem, root: String): Map[String, Int] = {
      val out = fs.create(new Path(s"$root/d/__bucket=3/part-0.parquet"), true)
      try out.write(payload) finally out.close()
      fs.mkdirs(new Path(s"$root/e/f"), new FsPermission("750"))
      fs.create(new Path(s"$root/e/f/g"), new FsPermission("640"), true, 4096,
        1.toShort, 1L << 25, null).close()
      fs.setPermission(new Path(s"$root/e/f/g"), new FsPermission("604"))
      fs.setPermission(new Path(s"$root/d"), new FsPermission("711"))
      modes(root)
    }
    for (umask <- Seq("022", "077", "002")) {
      val stock = layout(initialized(new LocalFileSystem(), umask), tmp("graft_localfs_stock_"))
      val nio = layout(initialized(new NioLocalFileSystem(), umask), tmp("graft_localfs_nio_"))
      assert(nio == stock, s"umask $umask: nio modes $nio, stock modes $stock")
      assert(stock.keySet.contains("d/__bucket=3/.part-0.parquet.crc"), stock.keySet)
    }
  }

  test("every data file a lake statement writes keeps its .crc sibling and the default modes") {
    import spark.implicits._
    assert(sessionFs.isInstanceOf[NioLocalFileSystem])
    val root = tmp("graft_localfs_crc_")
    val sink = new ManifestUpsertSink(root, "id", 4)
    sink.upsertBatch((1 to 20).map(i => (i.toLong, s"p$i", 1L)).toDF("id", "p", "seq"), "seq", 0L)
    sink.deleteKeysMergeOnRead(Seq(3L).toDF("id"), 1L)
    val umask = FsPermission.getUMask(spark.sessionState.newHadoopConf())
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    val data = modes(s"$root/data")
    val parquet = data.keys.filter(k => k.endsWith(".parquet") &&
      !Paths.get(k).getFileName.toString.startsWith(".")).toSeq
    assert(parquet.size >= 5, s"data and dv files written: $parquet")
    for (k <- parquet) {
      val p = Paths.get(k)
      val crc = Option(p.getParent).map(_.resolve(s".${p.getFileName}.crc"))
        .getOrElse(Paths.get(s".${p.getFileName}.crc")).toString
      assert(data.get(crc).contains(fileMode), s"$k: checksum sidecar $crc missing or mode off")
      assert(data(k) == fileMode, f"$k: mode ${data(k)}%o, want $fileMode%o")
    }
    for ((k, m) <- data if Files.isDirectory(Paths.get(s"$root/data/$k")))
      assert(m == dirMode, f"$k: dir mode $m%o, want $dirMode%o")
  }

  test("a sticky-bit setPermission takes the stock shell path") {
    val fs = initialized(new NioLocalFileSystem(), "022")
    val dir = new Path(tmp("graft_localfs_sticky_"), "shared")
    val local = Paths.get(dir.toUri.getPath)
    fs.mkdirs(dir)
    val started = processesStartedBy(
      fs.setPermission(dir, new FsPermission(octal("1777").toShort)))
    assert(started.exists(_.startsWith("chmod 1777")), s"fallback chmod expected, saw $started")
    assert(mode(local) == octal("1777"),
      "java.nio cannot set a sticky bit; only the fallback leaves one")
    // the plain bits never fork, and clear the sticky bit as chmod does
    assert(processesStartedBy(fs.setPermission(dir, new FsPermission("755"))).isEmpty)
    assert(mode(local) == octal("755"))
  }
}
