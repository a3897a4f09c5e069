package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Schema-drift preflight for Verify/Bench: before any query runs, print one
  * line per corpus table — row count + column:dtype fingerprint — and a
  * targeted diagnosis for known drift points. When the driver regenerates
  * `/root/testdata` with a different encoding (r06: `events.ts` flipped from
  * parquet TIMESTAMP(NANOS) to TIMESTAMP(MICROS)), this block turns "73
  * identical analysis stack traces" into one legible line at the top of the
  * run log. Count uses the parquet footer only (no data scan) so the
  * preflight costs milliseconds even at large SF.
  */
object Preflight {

  /** Reclaim STALE graft temp dirs before a run. Every lake-building
    * query materializes a physical table under one per-JVM `graft_*`
    * parent in tmpdir ([[QueryDef.tempDir]]), which a shutdown hook
    * deletes; a JVM killed before its hooks run leaves it behind — at
    * 300+ such queries per Verify/Bench invocation, repeated leftovers
    * once filled 79 GB and killed a test run with TASK_WRITE_FAILED
    * (disk full, round 10). Sweeping our own prefix older than 2 h at
    * main start keeps the current run's dirs (and any concurrent run's)
    * intact while bounding the accumulation at one round's worth.
    * Staleness is judged by the NEWEST entry under the tree, not the
    * root dir's mtime — a lake table root's mtime freezes once its
    * data/_manifest children exist, so a root-mtime gate would doom a
    * concurrent run's LIVE tables after 2 h of appends-to-subdirs (the
    * same newest-file rule vacuum's orphan sweep uses). */
  def sweepStaleTemp(maxAgeHours: Long = 2): Seq[String] = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val cutoff = System.currentTimeMillis() - maxAgeHours * 3600 * 1000
    val doomed =
      try {
        val s = java.nio.file.Files.list(tmp)
        try s.iterator().asScala.filter { p =>
            p.getFileName.toString.startsWith("graft_") && newestMtime(p) < cutoff
          }.toList
        finally s.close()
      } catch { case _: Exception => Nil }
    var n = 0L
    doomed.foreach { d =>
      try { deleteTree(d); n += 1 }
      catch { case _: Exception => () } // races with a concurrent sweep: fine
    }
    if (n > 0) Seq(s"[preflight] swept $n stale graft_* temp dirs (> ${maxAgeHours}h old)")
    else Nil
  }

  /** Deletes `root` and everything under it, deepest entries first;
    * throws on the first entry that cannot be deleted. */
  private[graft] def deleteTree(root: java.nio.file.Path): Unit = {
    val s = java.nio.file.Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    finally s.close()
  }

  /** Newest last-modified time of any entry under `p` (the dir itself,
    * every subdir, every file). Any walk/stat error reports "fresh"
    * (Long.MaxValue) — a tree we cannot age must never be deleted. */
  private[graft] def newestMtime(p: java.nio.file.Path): Long =
    try {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.foldLeft(Long.MinValue) { (acc, e) =>
          math.max(acc,
            try java.nio.file.Files.getLastModifiedTime(e).toMillis
            catch { case _: Exception => Long.MaxValue })
        }
      finally s.close()
    } catch { case _: Exception => Long.MaxValue }

  def report(spark: SparkSession, sfDir: String): Seq[String] =
    Tables.names.flatMap { t =>
      try {
        val df = Tables.load(spark, sfDir, t)
        val fp = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
        val n = df.count()
        val diag = if (t != "events") "" else df.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            " [events.ts: nanos-long vintage]"
          case dt =>
            s" [events.ts: ${dt.simpleString} (µs vintage) — ts_ns derived via unix_micros*1000]"
        }
        Seq(s"[preflight] $t rows=$n schema={$fp}$diag")
      } catch {
        case e: Throwable =>
          Seq(s"[preflight] $t UNREADABLE: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      }
    }
}
