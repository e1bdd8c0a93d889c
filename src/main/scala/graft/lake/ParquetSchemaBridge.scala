// This file is compiled into Spark's parquet package ON PURPOSE: the
// footer-to-schema conversion that Spark's schema inference runs
// (`ParquetFileFormat.readSchema`) is private[parquet], and the
// directory-scan visibility rule (`HadoopFSUtils`) is private[spark].
// A one-object bridge lets `graft.lake.ParquetRead` reuse both instead
// of re-implementing them (the same escape hatch as ColumnBridge).
package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

object ParquetSchemaBridge {
  /** The schema a file read reports for one footer: Spark's conversion
    * (the Spark row-metadata key, and the session's `binaryAsString`,
    * `int96AsTimestamp`, `inferTimestampNTZ` and `nanosAsLong`), with
    * every field nullable as `DataSource` makes it. */
  def readSchema(footer: Footer, spark: SparkSession): Option[StructType] =
    ParquetFileFormat.readSchema(Seq(footer), spark).map(_.asNullable)

  /** True for names a Spark directory scan skips (`_`/`.` prefixed,
    * except partition dirs and the `_metadata` summaries). */
  def hidden(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)
}
