package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's package-private parquet schema conversion, beside
  * `org.apache.spark.sql.GraftBridge`: `graft.Tables` reads a footer on
  * the driver and converts it the way Spark's own schema inference does
  * on an executor, so the schema it hands to `spark.read.schema(…)` is
  * the one `spark.read.parquet` would have inferred. */
object GraftParquetBridge {

  /** The Spark schema of the parquet file at `path` whose footer is
    * `footer`: the schema Spark wrote into the footer's key-value
    * metadata when present, else the parquet message type converted
    * under the session's parquet settings (binary-as-string, INT96,
    * timestamp NTZ inference, nanos-as-long). */
  def schemaOf(spark: SparkSession, path: Path, footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
}
