package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming extension (SURVEY §2.9: the reference names CI
  * streaming "under development" — this is the Spark-native realization).
  * Transforms are defined on unbounded DataFrames; the same builders run
  * in batch tests and against `readStream` sources.
  */
object EventsStreaming {

  /** Streaming ingestion source over an events directory (parquet files
    * appearing over time — the CI-append pattern). */
  def readEventStream(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    graft.lake.ParquetFormat.stream(spark, schema, dir)

  /** Watermarked tumbling-window aggregation: event-time correctness with
    * bounded state; late rows beyond the watermark are dropped. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))

  final case class SessionInput(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int,
      total: Double)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Int, total_value: Double)

  /** Custom stateful sessionization via flatMapGroupsWithState: a 30-min
    * inactivity gap closes a session. State per user is O(1) (just the
    * open session) — the scale-safe streaming analog of the batch
    * gaps-and-islands query (q29). Rows within the batch are processed
    * in event order; closed sessions are emitted immediately.
    *
    * `emitOpen = true` (default, bounded/batch inputs) also emits the
    * trailing still-open session so the result is complete; streaming
    * deployments set it false and rely on timeout-based emission.
    */
  def sessionize(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30L * 60 * 1000,
      emitOpen: Boolean = true): org.apache.spark.sql.Dataset[SessionOut] = {
    import spark.implicits._
    def out(user: Long, s: SessionState) =
      SessionOut(user, new Timestamp(s.start), new Timestamp(s.last),
        s.n, s.total)
    events.select(col("user_id"), col("ts"), col("value"))
      .as[SessionInput]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[SessionInput],
            state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.value))
          val closed = Seq.newBuilder[SessionOut]
          var cur = state.getOption
          sorted.foreach { r =>
            val t = r.ts.getTime
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                cur = Some(SessionState(s.start, math.max(s.last, t),
                  s.n + 1, s.total + r.value))
              case Some(s) =>
                closed += out(user, s)
                cur = Some(SessionState(t, t, 1, r.value))
              case None =>
                cur = Some(SessionState(t, t, 1, r.value))
            }
          }
          cur.foreach(state.update)
          if (emitOpen) cur.foreach(s => closed += out(user, s))
          closed.result().iterator
      }
  }

  /** Streaming arena ingestion — the reference's "real-world CI
    * ingestion ... under development" (`README.md:163`), realized: a
    * file stream of raw arena cell exports is regrouped into observation
    * rows per micro-batch (the same EP2 plan as batch ingest) and
    * appended to the partitioned lakehouse, checkpointed and
    * restart-incremental. Each micro-batch is appended once: the append
    * records its batch id under the query id the checkpoint keeps
    * ([[graft.lake.Lakehouse.appendBatch]]), so a batch that the
    * restarted query re-runs because its checkpoint commit did not land
    * commits nothing.
    *
    * Batch-boundary note: the regroup is per micro-batch, so one
    * sequence-sheet step's cells must arrive in one file — which is how
    * arena exports are written (file-atomic per execution).
    */
  def streamArenaIngest(spark: SparkSession, cellsDir: String,
      cellSchema: org.apache.spark.sql.types.StructType,
      lake: graft.lake.Lakehouse, dataSetId: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.lake.ParquetFormat.stream(spark, cellSchema, cellsDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // the stream's own thread carries its query id
        val queryId = spark.sparkContext.getLocalProperty(
          StreamExecution.QUERY_ID_KEY)
        require(queryId != null, "a micro-batch outside its query's thread")
        // single-shuffle ingest per micro-batch (see clusterByProblem)
        lake.appendBatch("observations",
          graft.ingest.ArenaIngest.observationsFromArena(
            graft.ingest.ArenaIngest.clusterByProblem(batch), dataSetId),
          graft.schema.Schemas.observations, Some(s"stream $queryId" -> id),
          sortCols = Seq("implementation_id", "test_id", "step_id"),
          clustered = true)
      }
      .start()

  /** Streaming incremental stats maintenance: each micro-batch's
    * per-group state folds into the lake's stats view `name`
    * ([[graft.lake.Lakehouse.foldStats]]) — the view is exactly
    * `IncrementalAgg.statsOf(all rows so far)` after every batch
    * (StreamingSpec), with per-batch cost ∝ the batch + its touched
    * groups, never the history. The stream is the change log of the
    * view: the view is a lake table partitioned by a hash bucket of the
    * group key, so a batch reads and rewrites only the buckets its
    * groups hash into, through the same write-then-commit path as every
    * other lake write. The checkpoint is the recovery log; the view's
    * watermark (the last batch id folded) makes a batch the sink
    * replays fold once. [[graft.lake.Lakehouse.readStats]] reads the
    * view. */
  def streamIncrementalStats(spark: SparkSession, srcDir: String,
      srcSchema: org.apache.spark.sql.types.StructType,
      keys: Seq[String], valueCol: String, lake: graft.lake.Lakehouse,
      name: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.lake.ParquetFormat.stream(spark, srcSchema, srcDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        lake.foldStats(name, srcDir, keys, valueCol, batch, id)
      }
      .start()

  /** Watermarked stream-stream interval join: pairs each left event with
    * right events of the same key within [left.ts, left.ts + window].
    * Both sides carry watermarks so the join state is bounded — the
    * streaming analog of TemporalJoins.rangeJoin. */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      window_ : String = "5 minutes",
      watermark: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(keyCol).as("k"), col("ts").as("l_ts"),
        col("event_id").as("l_id"))
    val r = right.withWatermark("ts", watermark)
      .select(col(keyCol).as("rk"), col("ts").as("r_ts"),
        col("event_id").as("r_id"))
    // the event-time range condition + both-side watermarks are what
    // make an OUTER stream-stream join legal: Spark can prove when an
    // unmatched left row can no longer match and emit it with NULLs
    l.join(r, col("k") === col("rk") &&
      col("r_ts") >= col("l_ts") &&
      col("r_ts") <= col("l_ts") + expr(s"INTERVAL $window_") &&
      col("l_id") =!= col("r_id"), joinType)
      .select("k", "l_id", "r_id", "l_ts", "r_ts")
  }

  /** Streaming exact dedup with bounded state: drops rows whose key was
    * already seen within the watermark horizon
    * (`dropDuplicatesWithinWatermark`) — the streaming face of
    * [[graft.ops.Dedup.exact]]; state is evicted as the watermark
    * advances, so it runs indefinitely. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming sink: append windowed aggregates to partitioned parquet
    * with checkpointing — the incremental-append lakehouse path. */
  def writeWindowed(df: DataFrame, outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
}
