package graft.lake

import java.io.DataOutput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.{Text, WritableUtils}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** The engine's Parquet file format: Spark's `ParquetFileFormat` with a
  * cheaper reader set-up.
  *
  * Every Parquet scan broadcasts the scan's Hadoop conf to its tasks
  * (`buildReaderWithPartitionValues` → `SerializableConfiguration
  * .broadcast`). `Configuration.write` serializes, next to each key and
  * value, the list of sources that set the key, and gzips every list
  * with its own `Deflater` (`WritableUtils.writeCompressedStringArray`).
  * For a session conf of ~1,100 keys that is 8–10 ms per scan on a
  * 4-core host; the same keys and values without sources take 2–3 ms.
  *
  * This format hands Spark's own reader a copy of the scan conf whose
  * `write` leaves the sources out. The copy has the same keys, values,
  * resources and overlay, so the reader and every task see the same
  * `(key, value)` pairs: the `fs.file.impl` binding, `spark.hadoop.*`
  * keys and the runtime SQL confs Spark copies into the scan conf.
  * Only `getPropertySources` (a debugging aid) differs where a task
  * deserializes the conf: every key reads as set programmatically.
  * Reading, filter push-down, vectorization and partition values are
  * Spark's code, unchanged. */
class ParquetFormat extends ParquetFileFormat {

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    super.buildReaderWithPartitionValues(sparkSession, dataSchema,
      partitionSchema, requiredSchema, filters, options,
      ParquetFormat.readerConf(hadoopConf))
}

object ParquetFormat {

  /** A streaming source over the Parquet files appearing in `dir`, read
    * through this format: each micro-batch's scan broadcasts the
    * sourceless conf, as batch reads do. */
  def stream(spark: SparkSession, schema: StructType, dir: String)
      : DataFrame =
    spark.readStream.schema(schema).format(classOf[ParquetFormat].getName)
      .load(dir)

  /** A copy of `conf` (Hadoop's copy constructor) that serializes
    * without per-key sources. */
  private[graft] def readerConf(conf: Configuration): Configuration =
    new SourcelessConf(conf)

  /** `Configuration.write` with a null source list for every key, an
    * encoding `Configuration.readFields` accepts: it then records no
    * source beyond its own `set` of the key. */
  private final class SourcelessConf(conf: Configuration)
      extends Configuration(conf) {
    override def write(out: DataOutput): Unit = {
      val props = getProps
      WritableUtils.writeVInt(out, props.size)
      props.forEach { (k, v) =>
        Text.writeString(out, k.asInstanceOf[String])
        Text.writeString(out, v.asInstanceOf[String])
        WritableUtils.writeCompressedStringArray(out, null)
      }
    }
  }
}
