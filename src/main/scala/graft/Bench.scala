package graft
import org.apache.spark.sql.DataFrame

/** Benchmark main: times every declared query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is fully materialized via a noop-format
  * write (a bare count() would let Catalyst elide sorts and column
  * evaluation). One untimed warm-up pass absorbs JIT/classloading and
  * codegen, so the timed passes measure building and executing each
  * query. Building includes reading the tables' Parquet footers again,
  * on the driver and without a Spark job (`graft.lake.ParquetRead`);
  * the jobs a build does run are counted per query as `build_jobs`, and
  * the jobs its execution runs as `run_jobs`, so a job moved from build
  * time to run time still shows.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nCpus = GraftSession.envCores
    val spark = GraftSession.batch(s"local[$nCpus]", nCpus)
    spark.sparkContext.setLogLevel("WARN")

    def exec(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Optional comma-separated filter for targeted iteration
    // (SPARK_GRAFT_BENCH_ONLY=q51_array_funcs,q50_consensus_verdicts).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Failing query -> its exception class, message and cause chain.
    // Every Throwable is recorded, not rethrown: one query dying of a
    // StackOverflowError in planning must not cost the whole artifact.
    // Warm-up failures are keyed "warmup:<name>", so a query that fails
    // once and then times cleanly is visible without counting as -1.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Warm-up pass (untimed): JIT, codegen caches, file listing.
    qs.foreach { case (name, fn) =>
      try exec(fn(spark, sfDir))
      catch { case e: Throwable => errors("warmup:" + name) = describe(e) }
    }
    // Timed passes, min per query: single-pass numbers swing ±40% from
    // GC/scheduler noise in local mode. Sub-second queries swing the
    // most relative to their own time (they flip in/out of bench_diff's
    // regression bar from noise alone), so they get a THIRD pass —
    // min-of-3 keeps round-over-round regression detection meaningful
    // at ~1s extra total cost. A throwing query reports -1, never the
    // (small, healthy-looking) time-to-exception.
    // Jobs started while a query's DataFrame is built (decision
    // statistics, checkpoints, collects), tagged "<name>#<rep>", and
    // while it executes, tagged "run:<name>#<rep>", so the artifact can
    // report each query's last sweep.
    val jobs = new graft.metrics.JobCounter(spark.sparkContext)
    def timed(name: String, tag: String,
        fn: (org.apache.spark.sql.SparkSession, String) => DataFrame)
        : Double = {
      val t0 = System.nanoTime()
      try {
        val df = jobs.tagged(tag)(fn(spark, sfDir))
        jobs.tagged("run:" + tag)(exec(df))
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable => errors(name) = describe(e); -1.0 }
    }
    // Reps are spread across full SWEEPS (rep 1 of every query, then
    // rep 2 of every query, ...) instead of run consecutively: host-load
    // noise comes in multi-second windows, and consecutive reps of one
    // query all land in the same window — the reason individual ~1s
    // numbers used to swing ±0.3s between otherwise-agreeing bench
    // runs. Sweeping decorrelates the reps in time at identical total
    // cost. Min (not mean) stays the statistic throughout: wall-clock
    // noise in this harness is strictly additive (GC pauses, scheduler
    // preemption), so min estimates the true cost and keeps
    // round-over-round deltas comparable. Light queries get 3 reps,
    // heavy (>=1s) queries 5.
    val reps = scala.collection.mutable.Map.empty[String, List[Double]]
    def sweep(names: Set[String]): Unit =
      qs.foreach { case (name, fn) =>
        if (names(name)) {
          // GC between queries: carry-over heap pressure from a
          // neighbor's ObjectHashAggregate maps otherwise lands GC
          // pauses in whichever query runs next (observed 4x swings).
          System.gc()
          val done = reps.getOrElse(name, Nil)
          reps(name) = timed(name, s"$name#${done.size}", fn) :: done
        }
      }
    val allNames = qs.map(_._1).toSet
    sweep(allNames); sweep(allNames); sweep(allNames)
    // The heavy bar sits BELOW the ~1s reporting threshold on purpose:
    // queries hovering at 1.0s would otherwise flip between the 3-rep
    // and 5-rep class from noise alone, and the class asymmetry itself
    // showed up as >10% run-to-run disagreement. Four extra sweeps
    // (7 reps total, spread over ~4 min of wall time) give every heavy
    // query a high chance of catching a quiet host window.
    val heavy = allNames.filter(n =>
      reps(n).forall(_ >= 0) && reps(n).min >= 0.8)
    sweep(heavy); sweep(heavy); sweep(heavy); sweep(heavy)
    val results = qs.map { case (name, _) =>
      name -> (if (reps(name).exists(_ < 0)) -1.0 else reps(name).min)
    }
    val qjson = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val counted =
      try jobs.counts()
      catch { case e: Throwable =>
        errors("jobs") = describe(e); Map.empty[String, Int] }
    def jobsJson(prefix: String) = qs.map { case (name, _) =>
      val n = counted.getOrElse(s"$prefix$name#${reps(name).size - 1}", 0)
      "\"" + name + "\":" + n
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val errJson = errors.map { case (k, v) => jsonString(k) + ":" +
      jsonString(v) }.mkString("{", ",", "}")
    // Side-effecting set-ups (q58's stream→lakehouse gate, the q77-q80
    // versioned warehouses, q108's dedup stream) run once, memoized in
    // the warm-up pass by QueryDef.setupOnce; their wall times are
    // reported here, per tag, so those entries measure the queries.
    val setupJson = {
      import scala.jdk.CollectionConverters._
      graft.testqueries.QueryDef.setupMillis.asScala.toSeq.sorted
        .map { case (tag, ms) => jsonString(tag) + ":" + ms / 1000.0 }
        .mkString("{", ",", "}")
    }
    // Executed-scale evidence rides along: if a round produced an sf1
    // bench artifact (tools/gate.sh sf1 10 -> bench_sf1.json), inline it
    // so the round's single BENCH json also carries the 10x section —
    // without making the per-round default run pay the sf1 wall time.
    // Resolved relative to the working directory (not a hardcoded
    // machine path), and stamped with the artifact's mtime so a stale
    // file from an earlier round is visibly dated, never silently
    // presented as this round's evidence.
    val sf1Path = java.nio.file.Paths.get("bench_sf1.json")
      .toAbsolutePath
    val sf1Json =
      if (sfDir.endsWith("sf0.1") && java.nio.file.Files.exists(sf1Path)) {
        val mtime = java.nio.file.Files.getLastModifiedTime(sf1Path)
        ",\"sf1_artifact_mtime\":\"" + mtime.toString + "\"," +
          "\"sf1_artifact\":" +
          new String(java.nio.file.Files.readAllBytes(sf1Path),
            "UTF-8").trim
      } else ""
    // run_at is stamped INSIDE the artifact: the mtime marker above
    // does not survive a git checkout (a committed stale artifact gets
    // checkout-time mtime and looks fresh), the embedded timestamp does.
    val runAt = java.time.Instant.now().toString
    // Gate knobs ride along so every artifact is self-describing:
    // timings only compare between runs with EQUAL knob values (q39/q76
    // measure a narrower window when a gate script sets one — see
    // GateKnobs), and without this field a bench_sf3.json read in
    // isolation would hide that its range queries ran parameterized.
    val knobs = {
      import graft.testqueries.GateKnobs
      // init_parts rides along: a comparison is only knob-identical
      // when AQE's initial partition count matches (unset, AQE starts
      // from spark.sql.shuffle.partitions).
      val initParts = spark.conf
        .getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        .getOrElse(spark.conf.get("spark.sql.shuffle.partitions"))
      s""""knobs":{"range_window_us":${GateKnobs.rangeWindowUs},""" +
        s""""emb_mod":${GateKnobs.embSampleMod},""" +
        s""""jaccard_t":${GateKnobs.jaccardThreshold},""" +
        s""""jaccard_maxdf":${GateKnobs.jaccardMaxDf},""" +
        s""""init_parts":$initParts}"""
    }
    // Parallelism evidence (VERDICT r12 scaling block): the driver's
    // 8-vs-32-core heuristic flagged "cpus ignored" because nothing in
    // the artifact PROVED the env var flowed into the master. Stamp the
    // requested core count and the context's actual defaultParallelism
    // into both JSON forms so an artifact is self-evidently tied to its
    // core count. (At sf0.1 every query is per-job-overhead-bound, so
    // the RATIO still sits near 1 there — the sf1 matrix point is where
    // parallelism separates; see OPTIMIZATION_r13.md.)
    val par = spark.sparkContext.defaultParallelism
    val cpuJson = s""""cpus":$nCpus,"default_parallelism":$par,"master":"local[$nCpus]""""
    val core =
      s"""{"metric":"total","value":$total,"unit":"sec","run_at":"$runAt",$cpuJson,$knobs,"queries":$qjson,"build_jobs":${jobsJson("")},"run_jobs":${jobsJson("run:")},"setup_s":$setupJson,"errors":$errJson,"sf":"$sfDir""""
    // stdout gets a MINIMAL final line: totals + error count + the top-5
    // slowest queries + the artifact path. The driver captures a bounded
    // stdout tail, and even the "compact" form with all 110 per-query
    // entries (~3 KB) overflowed it THREE rounds running (BENCH_r06/07/08
    // "parsed": null — the tail started mid-JSON). Per-query data lives
    // in bench_last.json, which has no length constraint.
    val top5 = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // "queries" here is only the top-5 (the driver's stdout tail is
    // bounded; a full 115+ map overflowed it three rounds running);
    // "all_queries" names the git-TRACKED file carrying the complete
    // per-query map from this same run (VERDICT r10 #8).
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","run_at":"$runAt",$cpuJson,"sf":"$sfDir","n_queries":${results.size},"n_errors":${results.count(_._2 < 0)},"queries":$top5,"all_queries":"bench_last.json","artifact":"bench_last.json"}"""
    val full = core + sf1Json + "}"
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_last.json").toAbsolutePath,
      (full + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () } // stdout still gets the compact
    // Stop FIRST, print LAST: the driver parses the final stdout line as
    // JSON, and spark.stop() can emit shutdown chatter. Combined with
    // build.sbt's StdoutOutput strategy (no [info]/[success] wrapping)
    // this makes the compact JSON the literal last line of the run.
    spark.stop()
    println(compact)
    System.out.flush()
  }

  /** One line per failure: exception class and message, then each cause
    * — the driver-side wrapper (SparkException) rarely names the fault.
    * At most 8 links, so a cyclic cause chain still terminates. */
  private[graft] def describe(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}")
      .mkString(" <- caused by ")

  /** JSON string literal: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in a message or in builder-authored SQL would
    * otherwise make a reader's json.load fail. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
