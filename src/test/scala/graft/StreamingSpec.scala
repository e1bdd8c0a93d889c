package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.EventsStreaming

class StreamingSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def ts(s: String) = Timestamp.valueOf(s)

  private def eventsDf = Seq(
    (1L, ts("2026-01-01 10:05:00"), 7L, "click", 1.0),
    (2L, ts("2026-01-01 10:20:00"), 7L, "click", 2.0),
    (3L, ts("2026-01-01 11:10:00"), 7L, "view", 4.0),
    (4L, ts("2026-01-01 13:00:00"), 7L, "click", 8.0))
    .toDF("event_id", "ts", "user_id", "event_type", "value")

  test("streaming windowed counts over a file source (AvailableNow)") {
    val srcDir = tmpDir("events-src")
    val outDir = tmpDir("events-out")
    val ckDir = tmpDir("events-ck")
    eventsDf.coalesce(1).write.mode("append").parquet(srcDir)
    val stream = EventsStreaming.readEventStream(spark, srcDir, schema)
    assert(stream.isStreaming)
    val agg = EventsStreaming.windowedCounts(stream, "1 hour", "2 hours")
    val q = EventsStreaming.writeWindowed(agg, outDir, ckDir)
    q.awaitTermination(60000)
    val out = spark.read.parquet(outDir)
    // watermark closes the 10:00 and 11:00 windows; 13:00 stays open
    val win10 = out.filter(col("win_start") === ts("2026-01-01 10:00:00"))
      .collect()
    assert(win10.length == 1)
    assert(win10.head.getAs[Long]("n") == 2)
    assert(win10.head.getAs[Double]("total") == 3.0)
  }

  test("restarting the stream is incremental (checkpointed)") {
    val srcDir = tmpDir("events-src2")
    val outDir = tmpDir("events-out2")
    val ckDir = tmpDir("events-ck2")
    eventsDf.filter(col("event_id") <= 2).coalesce(1)
      .write.mode("append").parquet(srcDir)
    val q1 = EventsStreaming.writeWindowed(
      EventsStreaming.windowedCounts(
        EventsStreaming.readEventStream(spark, srcDir, schema),
        "1 hour", "0 seconds"), outDir, ckDir)
    q1.awaitTermination(60000)
    val n1 = spark.read.parquet(outDir).count()
    // append more events, resume from checkpoint
    eventsDf.filter(col("event_id") > 2).coalesce(1)
      .write.mode("append").parquet(srcDir)
    val q2 = EventsStreaming.writeWindowed(
      EventsStreaming.windowedCounts(
        EventsStreaming.readEventStream(spark, srcDir, schema),
        "1 hour", "0 seconds"), outDir, ckDir)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(outDir).count() >= n1)
  }

  /** Stats rows as a set, sums as doubles, for comparing a view with
    * `IncrementalAgg.statsOf`. */
  private def canonStats(d: org.apache.spark.sql.DataFrame) =
    d.select(col("event_type"), col("n_rows"),
      col("sum_v").cast("double"), col("min_v"), col("max_v"))
      .collect().map(_.toSeq).toSet

  private def oneShot(rows: org.apache.spark.sql.DataFrame) =
    canonStats(graft.ops.IncrementalAgg.statsOf(rows, Seq("event_type"),
      "value"))

  test("streaming incremental stats: maintained table == one-shot " +
      "stats after every wave (checkpointed restart)") {
    val srcDir = tmpDir("incr-src")
    val lake = new graft.lake.Lakehouse(spark, tmpDir("incr-wh"))
    val ckDir = tmpDir("incr-ck")
    def run() = EventsStreaming.streamIncrementalStats(spark, srcDir,
      schema, Seq("event_type"), "value", lake, "events_by_type", ckDir)
      .awaitTermination(60000)
    // wave 1
    eventsDf.filter(col("event_id") <= 2).coalesce(1)
      .write.mode("append").parquet(srcDir)
    run()
    assert(canonStats(lake.readStats("events_by_type")) ==
      oneShot(eventsDf.filter(col("event_id") <= 2)))
    // wave 2: resume from checkpoint; only the new files are processed,
    // yet the stats table equals the full recompute
    eventsDf.filter(col("event_id") > 2).coalesce(1)
      .write.mode("append").parquet(srcDir)
    run()
    assert(canonStats(lake.readStats("events_by_type")) == oneShot(eventsDf))
  }

  test("streaming incremental stats: a replayed micro-batch folds once") {
    val srcDir = tmpDir("replay-src")
    val lake = new graft.lake.Lakehouse(spark, tmpDir("replay-wh"))
    val ckDir = tmpDir("replay-ck")
    def run() = EventsStreaming.streamIncrementalStats(spark, srcDir,
      schema, Seq("event_type"), "value", lake, "events_by_type", ckDir)
      .awaitTermination(60000)
    val wave1 = eventsDf.filter(col("event_id") <= 3)
    wave1.coalesce(1).write.mode("append").parquet(srcDir)
    run()
    assert(canonStats(lake.readStats("events_by_type")) == oneShot(wave1))
    // batch 0's stats landed but its checkpoint commit did not: the
    // restarted query re-runs batch 0 with the same id
    val commit0 = java.nio.file.Paths.get(ckDir, "commits", "0")
    java.nio.file.Files.delete(commit0)
    java.nio.file.Files.deleteIfExists(commit0.resolveSibling(".0.crc"))
    run()
    assert(new java.io.File(ckDir, "commits/0").isFile)
    assert(canonStats(lake.readStats("events_by_type")) == oneShot(wave1))
  }

  test("stateful sessionization (flatMapGroupsWithState), all sessions") {
    val out = EventsStreaming.sessionize(spark, eventsDf).collect()
      .sortBy(_.session_start.getTime)
    // 10:05+10:20 (15-min gap, one session); 11:10 (50-min gap, new);
    // 13:00 (new)
    assert(out.length == 3)
    assert(out(0).session_start == ts("2026-01-01 10:05:00"))
    assert(out(0).session_end == ts("2026-01-01 10:20:00"))
    assert(out(0).n_events == 2 && out(0).total_value == 3.0)
    assert(out(1).session_start == ts("2026-01-01 11:10:00"))
    assert(out(1).n_events == 1 && out(1).total_value == 4.0)
    assert(out(2).session_start == ts("2026-01-01 13:00:00"))
    assert(out(2).n_events == 1 && out(2).total_value == 8.0)
  }

  test("sessionize state carries across restarts (checkpointed)") {
    val srcDir = tmpDir("sess-src")
    val outDir = tmpDir("sess-out")
    val ckDir = tmpDir("sess-ck")
    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(srcDir)
        .select(col("user_id"), col("ts"), col("value"))
      val q = EventsStreaming.sessionize(spark, stream)
        .writeStream
        .option("checkpointLocation", ckDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", outDir).start()
      q.awaitTermination(120000)
    }
    // batch 1: two events 10 min apart
    Seq((1L, ts("2026-01-01 09:00:00"), 7L, "click", 1.0),
      (2L, ts("2026-01-01 09:10:00"), 7L, "click", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    run()
    // batch 2: one event 10 min after batch 1's last — same session
    Seq((3L, ts("2026-01-01 09:20:00"), 7L, "view", 4.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    run()
    val out = spark.read.parquet(outDir).collect()
    // the second run must have RESTORED the open session from state and
    // extended it: a session starting 09:00 with 3 events, value 7.0
    assert(out.exists(r =>
      r.getAs[Timestamp]("session_start") == ts("2026-01-01 09:00:00") &&
        r.getAs[Int]("n_events") == 3 &&
        r.getAs[Double]("total_value") == 7.0),
      out.mkString("\n"))
  }

  test("windowed agg drops events later than the watermark") {
    val srcDir = tmpDir("late-src")
    val outDir = tmpDir("late-out")
    val ckDir = tmpDir("late-ck")
    def run(): Unit = {
      val q = EventsStreaming.writeWindowed(
        EventsStreaming.windowedCounts(
          spark.readStream.schema(schema).parquet(srcDir),
          "1 hour", "1 hour"), outDir, ckDir)
      q.awaitTermination(120000)
    }
    // batch 1 advances the watermark far past 10:00
    Seq((1L, ts("2026-01-01 10:30:00"), 7L, "click", 1.0),
      (2L, ts("2026-01-01 15:00:00"), 7L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    run()
    // batch 2: a LATE event for the long-closed 10:00 window
    Seq((3L, ts("2026-01-01 10:40:00"), 7L, "click", 100.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(srcDir)
    run()
    val win10 = spark.read.parquet(outDir)
      .filter(col("win_start") === ts("2026-01-01 10:00:00")).collect()
    // the late row was dropped: the 10:00 window result (if emitted)
    // counts only the on-time event
    assert(win10.forall(_.getAs[Long]("n") == 1), win10.mkString("\n"))
  }

  test("streaming arena ingestion appends observations incrementally") {
    val srcDir = tmpDir("arena-stream-src")
    val ckDir = tmpDir("arena-stream-ck")
    val wh = tmpDir("arena-stream-wh")
    val lake = new graft.lake.Lakehouse(spark, wh)
    val cellSchema = Fixtures.rawArena.schema
    def run(): Unit = {
      val q = EventsStreaming.streamArenaIngest(spark, srcDir, cellSchema,
        lake, "CI", ckDir)
      q.awaitTermination(120000)
    }
    // CI drop 1: the fixture export (2 observation rows after regroup —
    // oracle rows are excluded at ingest)
    Fixtures.rawArena.coalesce(1).write.mode("append").parquet(srcDir)
    run()
    assert(lake.observations.count() == 2)
    // CI drop 2: a second problem's export arrives later
    Fixtures.rawArena
      .withColumn("ABSTRACTIONID", org.apache.spark.sql.functions.lit("p2"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    run()
    assert(lake.observations.count() == 4)
    // partition layout materialized per problem, queryable immediately
    assert(new java.io.File(
      s"$wh/observations/data_set_id=CI/problem_id=p2").exists())
    assert(lake.observations
      .filter(org.apache.spark.sql.functions.col("problem_id") === "p2")
      .count() == 2)
    // a third run with NO new files is a no-op (checkpoint)
    run()
    assert(lake.observations.count() == 4)
  }

  test("streaming arena ingestion: a replayed micro-batch appends once") {
    val srcDir = tmpDir("arena-replay-src")
    val ckDir = tmpDir("arena-replay-ck")
    val lake = new graft.lake.Lakehouse(spark, tmpDir("arena-replay-wh"))
    def run() = EventsStreaming.streamArenaIngest(spark, srcDir,
      Fixtures.rawArena.schema, lake, "CI", ckDir).awaitTermination(120000)
    Fixtures.rawArena.coalesce(1).write.mode("append").parquet(srcDir)
    run()
    assert(lake.observations.count() == 2)
    // batch 0's rows landed but its checkpoint commit did not: the
    // restarted query re-runs batch 0 with the same id
    val commit0 = java.nio.file.Paths.get(ckDir, "commits", "0")
    java.nio.file.Files.delete(commit0)
    java.nio.file.Files.deleteIfExists(commit0.resolveSibling(".0.crc"))
    run()
    assert(new java.io.File(ckDir, "commits/0").isFile)
    assert(lake.observations.count() == 2)
    assert(lake.currentVersion("observations") == 1)
  }

  test("sessionize without open-session emission holds back the tail") {
    val out = EventsStreaming.sessionize(spark, eventsDf, emitOpen = false)
      .collect().sortBy(_.session_start.getTime)
    // only the two CLOSED sessions (a later event arrived after each);
    // the 13:00 session stays in state
    assert(out.length == 2)
    assert(out(1).session_start == ts("2026-01-01 11:10:00"))
  }
}
