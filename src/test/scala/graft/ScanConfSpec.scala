package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream,
  DataOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{FileFormat,
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField}
import org.apache.spark.util.SerializableConfiguration
import scala.jdk.CollectionConverters._
import graft.lake.{Lakehouse, ParquetFormat, ParquetRead}
import graft.schema.Schemas
import graft.testqueries.Tables

/** Every engine Parquet read goes through `lake.ParquetFormat`, whose
  * reader set-up serializes the scan's Hadoop conf without per-key
  * sources. The tasks must see the same `(key, value)` pairs, and the
  * rows must be those of a plain `spark.read.parquet`. */
class ScanConfSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def formats(df: DataFrame): Seq[FileFormat] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation =>
      l.relation
    }.collect { case r: HadoopFsRelation => r.fileFormat }

  private def assertEngineFormat(df: DataFrame, what: String): Unit = {
    val fs = formats(df)
    assert(fs.nonEmpty, s"$what: no file relation")
    assert(fs.forall(_.isInstanceOf[ParquetFormat]),
      s"$what: ${fs.map(_.getClass.getName).mkString(", ")}")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  private def sameRows(ours: DataFrame, plain: DataFrame,
      what: String): Unit = {
    val (a, b) = (rows(ours), rows(plain))
    assert(a.nonEmpty, s"$what: no rows")
    assert(a == b, what)
  }

  /** `body`, then the session conf `key` as it was before. */
  private def restoring[T](key: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    try body
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def withConf[T](key: String, value: String)(body: => T): T =
    restoring(key) { spark.conf.set(key, value); body }

  private def pairs(c: Configuration): Map[String, String] =
    c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap

  /** `Configuration.write` → `readFields`, as a broadcast to a remote
    * executor deserializes it. */
  private def roundTrip(c: Configuration): Configuration = {
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    c.write(out)
    out.close()
    val back = new Configuration(false)
    back.readFields(new DataInputStream(
      new ByteArrayInputStream(bytes.toByteArray)))
    back
  }

  test("every lake and testdata read uses the engine's Parquet format") {
    val wh = tmpDir("wh-scanconf")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", Fixtures.observations, Schemas.observations)
    lake.append("observations",
      Fixtures.observations.withColumn("problem_id", lit("p2")),
      Schemas.observations)
    val keys = Seq("data_set_id", "problem_id", "implementation_id")
    lake.refreshStats("mv", "observations", keys, "execution_time_ms")
    assertEngineFormat(lake.observations, "observations")
    assertEngineFormat(lake.load("observations", 1), "load(t, 1)")
    assertEngineFormat(lake.incrementalRead("observations", 1, 2),
      "incrementalRead")
    assertEngineFormat(lake.readStats("mv"), "readStats")
    assertEngineFormat(ParquetRead.table(spark, s"$sf/lineitem.parquet"),
      "ParquetRead.table")
    assertEngineFormat(Tables.orders(spark, sf), "Tables.orders")
  }

  test("no src/main file builds Spark's ParquetFileFormat itself") {
    val sparkFormat = raw"new\s+([\w.]+\.)?ParquetFileFormat\b".r
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root),
      s"expected to run from the project root, no ${root.toAbsolutePath}")
    val files = Files.walk(root)
    val found =
      try files.iterator.asScala
        .filter(p => Files.isRegularFile(p) &&
          sparkFormat.findFirstIn(Files.readString(p)).isDefined)
        .map(root.relativize(_).toString).toList.sorted
      finally files.close()
    assert(found.isEmpty, "read through graft.lake.ParquetFormat")
  }

  test("no src/main file opens a streaming Parquet source by name") {
    // `readStream….parquet(dir)` builds Spark's format for every
    // micro-batch scan; `ParquetFormat.stream` reads through the engine's
    val byName = raw"readStream(\s*\.\s*\w+\([^()]*\))*\s*\.\s*parquet\(".r
    val root = Paths.get("src/main")
    val files = Files.walk(root)
    val found =
      try files.iterator.asScala
        .filter(p => Files.isRegularFile(p) &&
          byName.findFirstIn(Files.readString(p)).isDefined)
        .map(root.relativize(_).toString).toList.sorted
      finally files.close()
    assert(found.isEmpty, "read through graft.lake.ParquetFormat.stream")
    val dir = tmpDir("scan-stream")
    Fixtures.observations.write.parquet(s"$dir/src")
    val stream = ParquetFormat.stream(spark, Fixtures.observations.schema,
      s"$dir/src")
    val sources = stream.queryExecution.analyzed.collect {
      case r: StreamingRelation => r.dataSource.className
    }
    assert(sources == Seq(classOf[ParquetFormat].getName))
    val sink = s"$dir/out"
    stream.writeStream.option("checkpointLocation", s"$dir/ck")
      .trigger(Trigger.AvailableNow()).format("parquet")
      .start(sink).awaitTermination()
    sameRows(spark.read.parquet(sink), Fixtures.observations, "streamed")
  }

  test("the reader's conf carries the scan conf's pairs, no sources") {
    val scan = spark.sessionState.newHadoopConfWithOptions(Map.empty)
    assert(scan.get("fs.file.impl") == classOf[graft.lake.LocalFs].getName)
    val sourced = pairs(scan).keys.filter(k =>
      Option(scan.getPropertySources(k)).exists(_.nonEmpty))
    assert(sourced.nonEmpty, "the scan conf should record sources")
    val reader = ParquetFormat.readerConf(scan)
    assert(pairs(reader) == pairs(scan))
    assert(reader.get("fs.file.impl") == classOf[graft.lake.LocalFs].getName)
    // Hadoop's own encoding carries each key's sources across ...
    val full = roundTrip(scan)
    assert(sourced.exists(k => full.getPropertySources(k).toSeq !=
      Seq("programmatically")))
    // ... the reader's carries the same pairs and none of them:
    // `readFields` records its own `set` of each key, nothing more
    val back = roundTrip(reader)
    assert(pairs(back) == pairs(scan))
    assert(pairs(back) == pairs(full))
    val leaked = pairs(back).keys.filter(k =>
      Option(back.getPropertySources(k))
        .exists(_.toSeq != Seq("programmatically")))
    assert(leaked.size == 0, leaked.take(5).mkString("e.g. ", ", ", ""))
    assert(back.get("fs.file.impl") == classOf[graft.lake.LocalFs].getName)
    // Java serialization of the broadcast value keeps the same pairs
    val bytes = new ByteArrayOutputStream
    val oos = new ObjectOutputStream(bytes)
    oos.writeObject(new SerializableConfiguration(reader))
    oos.close()
    val sc = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[SerializableConfiguration]
    assert(pairs(sc.value) == pairs(scan))
  }

  test("partition values and a pushed-down filter read as Spark reads them") {
    val dir = tmpDir("scan-part") + "/t"
    spark.range(0, 200, 1, 4)
      .selectExpr("id", "cast(id % 7 as string) AS s", "id % 3 AS p")
      .write.partitionBy("p").parquet(dir)
    val ours = ParquetRead.table(spark, dir)
    assertEngineFormat(ours, "partitioned table")
    val plain = spark.read.parquet(dir)
    Seq("true", "false").foreach { vec =>
      withConf("spark.sql.parquet.enableVectorizedReader", vec) {
        sameRows(ours, plain, s"partitioned, vectorized=$vec")
        val pred = col("id") > 150 && col("p") === 1
        val filtered = ours.filter(pred)
        assert(filtered.queryExecution.executedPlan.toString
          .contains("GreaterThan(id,150)"))
        sameRows(filtered, plain.filter(pred), s"filtered, vectorized=$vec")
      }
    }
  }

  test("an evolved column reads NULL on older lake files, as Spark reads") {
    val wh = tmpDir("wh-evolve")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", Fixtures.observations, Schemas.observations)
    val evolved = lake.evolveSchema(Schemas.observations,
      StructField("study_tag", StringType))
    lake.append("observations",
      Fixtures.observations.withColumn("study_tag", lit("s1"))
        .withColumn("problem_id", lit("p2")),
      evolved)
    val ours = lake.observations
    assertEngineFormat(ours, "evolved table")
    val plain = spark.read.schema(ours.schema).parquet(s"$wh/observations")
    Seq("true", "false").foreach { vec =>
      withConf("spark.sql.parquet.enableVectorizedReader", vec) {
        sameRows(ours, plain, s"evolved, vectorized=$vec")
        assert(ours.filter(col("study_tag").isNull).count() == 12)
      }
    }
  }

  test("nested struct, array and map columns read as Spark reads them") {
    val dir = tmpDir("scan-nested") + "/t"
    spark.range(0, 50, 1, 2).selectExpr("id",
      "named_struct('a', id, 'b', cast(id as string)) AS st",
      "array(id, id + 1, null) AS arr",
      "map(cast(id as string), array(named_struct('x', id * 0.5))) AS m")
      .write.parquet(dir)
    val ours = ParquetRead.table(spark, dir)
    assertEngineFormat(ours, "nested table")
    val plain = spark.read.parquet(dir)
    Seq("true", "false").foreach { vec =>
      withConf("spark.sql.parquet.enableVectorizedReader", vec) {
        sameRows(ours, plain, s"nested, vectorized=$vec")
        sameRows(ours.select(col("st.b"), col("m")),
          plain.select(col("st.b"), col("m")), s"pruned, vectorized=$vec")
      }
    }
  }

  /** `dir/events.parquet` with `ts` stored as TIMESTAMP(NANOS), the
    * type Spark's reader rejects unless `nanosAsLong` is set. */
  private def nanosEvents(dir: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(new HPath(s"$dir/events.parquet")).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val g = new SimpleGroupFactory(schema)
    try (0L until 20L).foreach { i =>
      w.write(g.newGroup().append("event_id", i)
        .append("ts", 1700000000000000000L + i * 1234567891L))
    } finally w.close()
  }

  test("Tables.events reads TIMESTAMP(NANOS) under nanosAsLong") {
    val dir = tmpDir("scan-nanos")
    nanosEvents(dir)
    val p = s"$dir/events.parquet"
    restoring("spark.sql.legacy.parquet.nanosAsLong") {
      val events = Tables.events(spark, dir)
      assertEngineFormat(events, "Tables.events")
      assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      val plain = spark.read.parquet(p)
      assert(plain.schema("ts").dataType == LongType)
      Seq("true", "false").foreach { vec =>
        withConf("spark.sql.parquet.enableVectorizedReader", vec) {
          sameRows(ParquetRead.table(spark, p), plain, s"raw, vectorized=$vec")
          sameRows(events, plain.withColumn("ts",
            expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")),
            s"events, vectorized=$vec")
        }
      }
    }
  }
}
