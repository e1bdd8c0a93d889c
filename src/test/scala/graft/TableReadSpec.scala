package graft

import java.io.File
import org.apache.spark.sql.functions._
import graft.lake.{Lakehouse, ParquetRead}
import graft.metrics.JobCounter
import graft.ops.BpeTrain
import graft.schema.Schemas
import graft.testqueries.Tables

/** Testdata table reads take their schema from one Parquet footer on
  * the driver (`ParquetRead`): the same schema Spark's inference gives,
  * without the inference job. Lake tables take it from their snapshot
  * manifest, which reads no footer at all. */
class TableReadSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def inferred(p: String) = spark.read.parquet(p).schema

  /** One observation row per implementation id in `ids`. */
  private def perImplementation(ids: Seq[Int]) = {
    import spark.implicits._
    ids.toDF("i").select(lit("d").as("data_set_id"), lit("p").as("problem_id"),
      concat(lit("i"), col("i").cast("string")).as("implementation_id"))
      .crossJoin(Fixtures.observations
        .drop("data_set_id", "problem_id", "implementation_id").limit(1))
  }

  /** The data files a stats view's manifest `v` lists. */
  private def viewFiles(wh: String, name: String, v: Int): Set[String] = {
    val src = scala.io.Source.fromFile(
      new File(wh, f"_mv/$name/_manifests/v$v%08d.txt"), "UTF-8")
    try src.getLines().filter(_.startsWith("__bucket=")).toSet
    finally src.close()
  }

  test("footer schema equals Spark's inference on every testdata table") {
    // events stores TIMESTAMP(NANOS): readable only once Tables.events
    // has set nanosAsLong, which both reads below then honour
    Tables.events(spark, sf)
    val tables = new File(sf).listFiles().map(_.getPath).sorted
    assert(tables.length == 10)
    tables.foreach { p =>
      assert(ParquetRead.schemaOf(spark, p) == Some(inferred(p)), p)
      assert(ParquetRead.table(spark, p).schema == inferred(p), p)
    }
  }

  test("multi-file directory: _SUCCESS skipped, first file in path order") {
    val dir = tmpDir("multi") + "/t"
    spark.range(0, 100, 1, 3).selectExpr("id", "cast(id as string) AS s")
      .write.parquet(dir)
    // a second, wider append: the files no longer agree on a schema, so
    // which file is read decides the result
    spark.range(0, 10, 1, 2)
      .selectExpr("id", "cast(id as string) AS s", "id * 2.0 AS d")
      .write.mode("append").parquet(dir)
    // the engine's writes leave no job marker; put Hadoop's there by hand
    assert(new File(dir, "_SUCCESS").createNewFile())
    val names = new File(dir).list().sorted
    assert(names.contains("_SUCCESS"))
    val data = names.filter(_.startsWith("part-"))
    assert(data.length >= 5)
    assert(ParquetRead.schemaOf(spark, dir) == Some(inferred(dir)))
    assert(ParquetRead.schemaOf(spark, dir) ==
      Some(inferred(s"$dir/${data.head}")))
    assert(ParquetRead.table(spark, dir).schema == inferred(dir))
    assert(ParquetRead.table(spark, dir).count() == 110)
  }

  test("partitioned lake table: partition columns last, inferred types") {
    val wh = tmpDir("wh-read")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", Fixtures.observations, Schemas.observations)
    lake.append("observations",
      Fixtures.observations.withColumn("problem_id", lit("p2")),
      Schemas.observations)
    val p = s"$wh/observations"
    val got = lake.observations.schema
    assert(got == inferred(p))
    assert(got.fieldNames.takeRight(Schemas.partitionCols.size).toSeq ==
      Schemas.partitionCols)
    assert(lake.observations.filter(col("problem_id") === "p2").count() ==
      12)
  }

  test("a table with no data file still loads as the typed empty frame") {
    val wh = tmpDir("wh-none")
    val lake = new Lakehouse(spark, wh)
    lake.append("tests", spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.tests),
      Schemas.tests)
    assert(ParquetRead.schemaOf(spark, s"$wh/tests").isEmpty)
    val t = lake.load("tests")
    assert(t.schema == Schemas.tests)
    assert(t.count() == 0)
  }

  test("building a declared query or opening a lake table runs no job") {
    val wh = tmpDir("wh-jobs")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", Fixtures.observations, Schemas.observations)
    lake.append("observations",
      Fixtures.observations.withColumn("problem_id", lit("p2")),
      Schemas.observations)
    // q77-q79 build their versioned warehouses once per session; later
    // builds only read versions, incremental deltas and diffs
    val versioned =
      Seq("q77_time_travel", "q78_incremental_read", "q79_rollback_diff")
    versioned.foreach(q => SparkEntry.queries(q)(spark, sf))
    // a stats view over 400 groups fills more bucket dirs than Spark's
    // parallel-listing threshold (32)
    lake.append("many", perImplementation(0 until 400), Schemas.observations)
    lake.refreshStats("mv", "many", Seq("implementation_id"),
      "execution_time_ms")
    val buckets = viewFiles(wh, "mv", 1).map(_.takeWhile(_ != '/'))
    assert(buckets.size > 32, buckets)
    val jobs = new JobCounter(spark.sparkContext)
    try {
      jobs.tagged("q04")(SparkEntry.queries("q04_pricing_summary")(spark, sf))
      jobs.tagged("q101")(SparkEntry.queries("q101_triangle_count")(spark, sf))
      jobs.tagged("open")(lake.observations)
      jobs.tagged("asOf")(lake.load("observations", 1))
      jobs.tagged("incremental")(lake.incrementalRead("observations", 1, 2))
      jobs.tagged("readStats")(lake.readStats("mv"))
      versioned.foreach(q => jobs.tagged(q)(SparkEntry.queries(q)(spark, sf)))
      // control: the tag does see a job that runs
      jobs.tagged("count")(lake.observations.count())
      val n = jobs.counts()
      (Seq("q04", "q101", "open", "asOf", "incremental", "readStats") ++
          versioned)
        .foreach(t => assert(n.getOrElse(t, 0) == 0, s"$t: $n"))
      assert(n.getOrElse("count", 0) > 0, n)
    } finally jobs.close()
  }

  test("a stats refresh after an append rewrites only the touched " +
      "buckets") {
    val wh = tmpDir("wh-mv-buckets")
    val lake = new Lakehouse(spark, wh)
    lake.append("many", perImplementation(0 until 400), Schemas.observations)
    lake.refreshStats("mv", "many", Seq("implementation_id"),
      "execution_time_ms")
    val before = viewFiles(wh, "mv", 1)
    def bytes(f: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(wh, "_mv", "mv", f)).toSeq
    val contents = before.map(f => f -> bytes(f)).toMap
    // three groups gain rows: k <= 3 buckets
    val grown = Seq(5, 77, 123)
    lake.append("many", perImplementation(grown), Schemas.observations)
    val touched = lake.load("_mv/mv")
      .filter(col("implementation_id").isin(grown.map("i" + _): _*))
      .select("__bucket").distinct().collect().map(r => s"__bucket=${r(0)}")
      .toSet
    assert(lake.refreshStats("mv", "many", Seq("implementation_id"),
      "execution_time_ms") == lake.RefreshIncremental)
    val after = viewFiles(wh, "mv", 2)
    def inTouched(f: String) = touched(f.takeWhile(_ != '/'))
    // every other bucket keeps its files, byte for byte
    val kept = before.filterNot(inTouched)
    assert(kept.size > 32 && after.filterNot(inTouched) == kept)
    kept.foreach(f => assert(bytes(f) == contents(f), f))
    // one file per bucket: exactly k files replaced, k written
    assert((before -- after).size == touched.size)
    assert((after -- before).size == touched.size)
    assert(lake.readStats("mv").orderBy("implementation_id").collect()
      .toSeq == graft.ops.IncrementalAgg.statsOf(lake.load("many"),
        Seq("implementation_id"), "execution_time_ms")
      .orderBy("implementation_id").collect().toSeq)
  }

  test("q90 builds with no job beyond its one word-table collect") {
    // measured at sf0.001 and sf0.1 on 4 cores: the collect and q90's
    // build each run 2 jobs (the word-count shuffle stage, then the
    // result); the per-round Spark form this replaced ran 26
    // (2 + 8 rounds × (collect + checkpoint))
    val jobs = new JobCounter(spark.sparkContext)
    try {
      jobs.tagged("words")(BpeTrain.wordFrequencies(
        Tables.documents(spark, sf), col("text")).collect())
      jobs.tagged("q90")(SparkEntry.queries("q90_bpe_merges")(spark, sf))
      val n = jobs.counts()
      assert(n.getOrElse("words", 0) > 0, n)
      assert(n.getOrElse("q90", 0) <= n("words"), n)
    } finally jobs.close()
  }

  test("q108 builds with no job once its stream sink exists") {
    val q108 = SparkEntry.queries("q108_stream_dedup")
    q108(spark, sf) // runs the stream into the sink once per session
    val jobs = new JobCounter(spark.sparkContext)
    try {
      val df = jobs.tagged("q108")(q108(spark, sf))
      val n = jobs.counts()
      assert(n.getOrElse("q108", 0) == 0, n)
      assert(df.count() > 0)
    } finally jobs.close()
  }
}
