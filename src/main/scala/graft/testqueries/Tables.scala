package graft.testqueries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md). One
  * parquet file per table under the per-scale-factor dir passed by the
  * driver. Column pruning / filter pushdown reach the parquet scan because
  * every query builds directly on these lazy readers.
  *
  * Each read takes its schema from the file's footer on the driver
  * (`graft.lake.ParquetRead`), so building a query's DataFrame launches
  * no schema-inference job; a path with no Parquet file falls back to
  * `spark.read.parquet` and its error. The scans run through
  * `graft.lake.ParquetFormat`, whose reader set-up broadcasts the Hadoop
  * conf without per-key sources (runtime SQL confs such as
  * `nanosAsLong` still reach the reader).
  */
object Tables {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.lake.ParquetRead.table(s, s"$dir/$name.parquet")

  def region(s: SparkSession, dir: String): DataFrame = t(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame = t(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = t(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = t(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = t(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame = t(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = t(s, dir, "lineitem")
  /** `events.parquet` stores TIMESTAMP(NANOS) which the Spark 4 parquet
    * reader rejects; read nanos as long and convert to a session-UTC
    * timestamp_ntz (microsecond truncation, matching what DuckDB returns
    * for the same file).
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, dir, "events")
    // Driver testdata stores TIMESTAMP(NANOS) (surfaces as long under
    // nanosAsLong); tools/ScaleUp output already stores timestamp_ntz
    // micros. Both converge on the same micro-truncated timestamp_ntz.
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", org.apache.spark.sql.functions
        .expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
    else df
  }
  def documents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
}
