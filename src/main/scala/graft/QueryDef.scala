package graft

import java.nio.file.{Files, Path}
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query in the engine's declared inventory (SURVEY §2.B).
  *
  * @param name   stable key — shared between `SparkEntry.queries` and
  *               `SparkEntry.oracleSql`
  * @param fn     the Spark-side implementation
  * @param oracle equivalent ANSI SQL for the DuckDB oracle (column names/
  *               aliases MUST match the Spark output exactly); None for ops
  *               whose semantics aren't SQL-expressible (driver then records
  *               a weaker rows-only check)
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object QueryDef {
  /** Float determinism convention used across the inventory: aggregate
    * sums of doubles go through an exact DECIMAL accumulator and are cast
    * back to DOUBLE, so Spark and DuckDB produce bit-identical values
    * regardless of summation order (IEEE double addition is not
    * associative; decimal addition is). Per-row double arithmetic is
    * order-free and needs no such treatment. */
  val FloatNote: String = "decimal-accumulator convention"

  /** A new directory for the scratch table a query builds, named
    * `prefix…`. Such a table must outlive the query's function (its
    * DataFrame reads it lazily), so every one goes under one parent per
    * JVM, `graft_tables_…` in the system temp dir, which a shutdown hook
    * deletes. A JVM killed before its hooks run leaves the parent to the
    * stale `graft_*` sweep in [[Preflight.sweepStaleTemp]]. */
  private[graft] def tempDir(prefix: String): String =
    Files.createTempDirectory(tempRoot, prefix).toString

  private lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft_tables_")
    sys.addShutdownHook {
      try Preflight.deleteTree(root) catch { case NonFatal(_) => () }
    }
    root
  }
}
