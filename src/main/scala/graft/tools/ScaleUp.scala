package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the driver's synthetic testdata: writes an
  * sfN directory that is K disjoint replicas of the source tables with
  * join-integrity-preserving key offsets (the TPC-H "replicate with key
  * stride" scaling recipe).
  *
  * Per copy i, every key column k gets `k + i * stride(table)` where the
  * stride is the source table's dense key-space size — so foreign keys
  * keep referencing exactly one row per copy, uniqueness is preserved,
  * and each copy is a self-contained star. Dimension tables that do NOT
  * scale with SF in TPC-H (`region`, `nation`) are copied verbatim, which
  * also preserves the broadcast-join character of the canonical queries.
  * `events` keeps its 30-day timestamp window (10x event density, 10x
  * users); `documents`/`embeddings` replicate content verbatim under
  * fresh ids — a deliberately duplication-heavy corpus that stresses the
  * dedup/LSH/CC paths with the group-size blowup a real crawl shows.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <copies>
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, copiesS) = args
    val copies = copiesS.toInt
    val cpus = graft.GraftSession.envCores
    val spark = graft.GraftSession.batch(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")

    // key-space stride per table: dense 0-based keys in the source, so
    // stride = max+1 read from the data (not hardcoded row counts).
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    val copyDf = spark.range(copies).withColumnRenamed("id", "copy")

    /** Replicate `table` x copies, offsetting each (column -> stride). */
    def scale(table: String, offsets: Map[String, Long],
        xform: DataFrame => DataFrame = identity): Unit = {
      val src = xform(spark.read.parquet(s"$srcDir/$table.parquet"))
      val scaled = offsets.foldLeft(src.crossJoin(broadcast(copyDf))) {
        case (df, (c, s)) => df.withColumn(c, col(c) + col("copy") * s)
      }.drop("copy")
      // one part-file per copy: the source is a single file (one input
      // split), so without this the whole KxN output would funnel into
      // one task's single file and cap downstream scan parallelism
      scaled.repartition(copies).write.mode("overwrite")
        .parquet(s"$dstDir/$table.parquet")
      println(s"[scaleup] $table x$copies -> $dstDir/$table.parquet")
    }

    def verbatim(table: String): Unit = {
      spark.read.parquet(s"$srcDir/$table.parquet").write
        .mode("overwrite").parquet(s"$dstDir/$table.parquet")
      println(s"[scaleup] $table verbatim")
    }

    // events.ts is TIMESTAMP(NANOS), which the Spark 4 reader rejects:
    // read nanos as long, and write back micro-truncated timestamp_ntz
    // (the SAME truncation Tables.events and the DuckDB oracles apply,
    // so query semantics are unchanged; Spark cannot write nanos).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val cust = spark.read.parquet(s"$srcDir/customer.parquet")
    val ord = spark.read.parquet(s"$srcDir/orders.parquet")
    val part = spark.read.parquet(s"$srcDir/part.parquet")
    val supp = spark.read.parquet(s"$srcDir/supplier.parquet")
    val doc = spark.read.parquet(s"$srcDir/documents.parquet")
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val ev = spark.read.parquet(s"$srcDir/events.parquet")
    val cK = stride(cust, "c_custkey"); val oK = stride(ord, "o_orderkey")
    val pK = stride(part, "p_partkey"); val sK = stride(supp, "s_suppkey")
    val dK = stride(doc, "doc_id"); val vK = stride(emb, "vec_id")
    val eK = stride(ev, "event_id")
    val uK = ev.agg(max(col("user_id"))).head.getLong(0) + 1L

    verbatim("region"); verbatim("nation")
    scale("customer", Map("c_custkey" -> cK))
    scale("supplier", Map("s_suppkey" -> sK))
    scale("part", Map("p_partkey" -> pK))
    scale("orders", Map("o_orderkey" -> oK, "o_custkey" -> cK))
    scale("lineitem",
      Map("l_orderkey" -> oK, "l_partkey" -> pK, "l_suppkey" -> sK))
    // ts arrives as nanos-as-long (pre-round-6 driver testdata) or as
    // a native micros timestamp (current driver testdata) — same
    // type-conditional convergence to micro-truncated timestamp_ntz
    // as testqueries.Tables.events
    scale("events", Map("event_id" -> eK, "user_id" -> uK),
      df => df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => df.withColumn("ts",
          expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
        case _ => df.withColumn("ts", col("ts").cast("timestamp_ntz"))
      })
    scale("documents", Map("doc_id" -> dK))
    scale("embeddings", Map("vec_id" -> vK))
    spark.stop()
  }
}
