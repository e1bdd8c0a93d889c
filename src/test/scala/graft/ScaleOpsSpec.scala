package graft

import org.apache.spark.sql.functions._
import graft.ops.Skew
import graft.queries.CanonicalQueries

class ScaleOpsSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  test("salted join equals the unsalted join (skew mitigation)") {
    val large = (1 to 500).map(i =>
      (if (i % 10 == 0) "hot" else s"k$i", i)).toDF("k", "v")
    val small = Seq(("hot", "H"), ("k1", "A"), ("k2", "B"))
      .toDF("k", "tag")
    val salted = Skew.saltedJoin(large, small, Seq("k"), 8)
      .orderBy("k", "v").collect()
    val plain = large.join(small, "k").orderBy("k", "v").collect()
    assert(salted.length == plain.length)
    assert(salted.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }

  test("salted join: duplicate dim keys, null keys, and hot-key spread") {
    // duplicate keys on the REPLICATED side: each dup must match every
    // probe row exactly once per dup (replication cannot double-count)
    val large = (1 to 300).map(i =>
      (if (i % 3 == 0) "hot" else s"k$i", i)).toDF("k", "v")
    val dimDup = Seq(("hot", "H1"), ("hot", "H2"), ("k1", "A"))
      .toDF("k", "tag")
    val salted = Skew.saltedJoin(large, dimDup, Seq("k"), 4)
      .orderBy("k", "v", "tag").collect()
    val plain = large.join(dimDup, "k").orderBy("k", "v", "tag").collect()
    assert(salted.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)

    // null join keys: inner-join semantics drop them on both forms
    val largeN = Seq((null.asInstanceOf[String], 1), ("a", 2))
      .toDF("k", "v")
    val dimN = Seq(("a", "A"), (null.asInstanceOf[String], "N"))
      .toDF("k", "tag")
    val saltedN = Skew.saltedJoin(largeN, dimN, Seq("k"), 4).collect()
    assert(saltedN.map(r => (r.getString(0), r.getInt(1), r.getString(2)))
      .toSeq == Seq(("a", 2, "A")))

    // the salt actually SPREADS a hot key: with 100 distinct rows under
    // one key and saltFactor 8, the per-row hash must hit >1 bucket
    // (this is the whole point — a constant salt would be a no-op)
    val hot = (1 to 100).map(i => ("hot", i)).toDF("k", "v")
    val buckets = hot.withColumn("salt",
        pmod(xxhash64(col("k"), col("v")), lit(8)))
      .select("salt").distinct().count()
    assert(buckets > 4, s"hot key spread over only $buckets/8 buckets")
  }

  test("key histogram surfaces heavy keys") {
    val df = (1 to 100).map(i => if (i <= 60) "hot" else s"k$i")
      .toDF("k")
    val top = Skew.keyHistogram(df, Seq("k"), 1).collect().head
    assert(top.getString(0) == "hot" && top.getLong(1) == 60)
  }

  test("approx dataset stats agree with exact on small cardinalities") {
    val exact = CanonicalQueries.datasetStats(Fixtures.observations)
      .collect().head
    val approx = CanonicalQueries
      .datasetStats(Fixtures.observations, approx = true).collect().head
    // HLL is exact at these cardinalities (3 impls, 2 tests)
    assert(approx.getAs[Long]("total_implementations") ==
      exact.getAs[Long]("total_implementations"))
    assert(approx.getAs[Double]("avg_tests_per_problem") ==
      exact.getAs[Double]("avg_tests_per_problem"))
  }

  test("compaction rewrites each partition into one file, same data") {
    val wh = tmpDir("whcompact")
    val lake = new graft.lake.Lakehouse(spark, wh)
    (1 to 4).foreach { _ =>
      lake.append("observations", Fixtures.observations,
        graft.schema.Schemas.observations)
    }
    // the latest snapshot's files: a replaced file stays on disk
    def files = LakeFiles.latestFiles(new java.io.File(wh, "observations"))
      .count(LakeFiles.partitionOf(_) == "data_set_id=HumanEval/problem_id=p1")
    assert(files >= 4)
    val before = lake.observations.orderBy("implementation_id", "test_id",
      "step_id", "run_id").collect().map(_.toSeq).toSeq
    lake.compact("observations")
    assert(files == 1)
    val after = lake.observations.orderBy("implementation_id", "test_id",
      "step_id", "run_id").collect().map(_.toSeq).toSeq
    assert(after == before)
  }

  test("streaming dedup drops repeated keys within the watermark") {
    val srcDir = tmpDir("dedup-src")
    val outDir = tmpDir("dedup-out")
    val ckDir = tmpDir("dedup-ck")
    import TestSpark.spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    Seq((1L, ts0, "a"), (1L, ts0, "a"), (2L, ts0, "b"), (1L, ts0, "a"))
      .toDF("k", "ts", "v").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val deduped = graft.streaming.EventsStreaming.dedupStream(
      spark.readStream.schema(schema).parquet(srcDir), Seq("k"))
    val q = deduped.writeStream
      .option("checkpointLocation", ckDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", outDir).start()
    q.awaitTermination(60000)
    val out = spark.read.parquet(outDir)
    assert(out.count() == 2)
    assert(out.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
  }

  test("lakehouse SQL: query() sees a new partition, compact adds no row") {
    val wh = tmpDir("whsql")
    val lake = new graft.lake.Lakehouse(spark, wh)
    def count(where: String) = lake.query(
      s"SELECT count(*) FROM observations WHERE $where").head().getLong(0)
    lake.append("observations", Fixtures.observations,
      graft.schema.Schemas.observations)
    assert(count("true") == 12)
    // a second append's NEW partition is visible to the next query
    lake.append("observations",
      Fixtures.observations.withColumn("problem_id", lit("p2")),
      graft.schema.Schemas.observations)
    assert(count("problem_id = 'p2'") == 12)
    // the replaced files stay on disk; SQL reads the snapshot's only
    lake.compact("observations")
    assert(count("true") == 24)
    assert(count("problem_id = 'p1'") == 12)
  }
}
