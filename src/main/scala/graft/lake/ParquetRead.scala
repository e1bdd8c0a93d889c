package graft.lake

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFooterReader, ParquetSchemaBridge}
import org.apache.spark.sql.types.StructType

/** Parquet table reads that launch no Spark job.
  *
  * `spark.read.parquet(path)` infers the schema with a Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`), even for one file, and
  * every query pays for it while its DataFrame is built. Without
  * `mergeSchema` that job reads ONE footer, so the same schema comes
  * from reading that footer on the driver and handing it to
  * `spark.read.schema(...)`. Partition columns are still inferred from
  * the directory names by Spark's file index, so they come last with
  * the same types.
  *
  * No cache: the footer is read on every call, so a rewritten table is
  * seen as it now is. Reads that must merge every footer
  * (`mergeSchema`) keep using Spark's inference.
  *
  * A table with a footer schema is read through [[ParquetFormat]], whose
  * reader set-up broadcasts the scan's Hadoop conf without per-key
  * sources; rows and plans are those of `spark.read.parquet`.
  */
object ParquetRead {

  /** The file schema `spark.read.parquet(path)` would infer (partition
    * columns, which live in directory names, not included), or None when
    * `path` holds no visible Parquet file. It reads the file Spark's
    * non-merging inference reads: `_common_metadata`, else `_metadata`,
    * else the first data file in path order. */
  def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files =
      if (!fs.exists(root)) Nil
      else visibleFiles(fs, fs.getFileStatus(root)).sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    summaries.iterator.flatMap(n => files.find(_.getPath.getName == n))
      .nextOption()
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .flatMap { f =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetSchemaBridge.readSchema(new Footer(f.getPath, meta), spark)
      }
  }

  /** Lazy read of a Parquet file or (partitioned) directory with the
    * footer schema, through [[ParquetFormat]]. With no data file it
    * falls back to `spark.read.parquet`, which keeps Spark's own
    * exception for an empty or missing table. */
  def table(spark: SparkSession, path: String): DataFrame =
    schemaOf(spark, path) match {
      case Some(schema) =>
        spark.read.format(classOf[ParquetFormat].getName).schema(schema)
          .load(path)
      case None => spark.read.parquet(path)
    }

  /** The root itself if it is a file, else every file below it that a
    * Spark directory scan sees. */
  private def visibleFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (st.isFile) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(c => ParquetSchemaBridge.hidden(c.getPath.getName))
      .flatMap(visibleFiles(fs, _))
}
