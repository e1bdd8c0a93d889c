package graft

import org.apache.spark.sql.SparkSession

/** Session factory encoding the engine's measured tuning — the
  * one-liner entry point a reference user gets from
  * `ObservationLakehouse(...)`. Both profiles register
  * [[graft.plans.GraftExtensions]], so `graft_git_blob_hash`,
  * `graft_git_blob_sha1` and `graft_vec_dot` work from plain SQL.
  *
  * `batch`: full-parallelism analytics. Shuffle partitions sized to the
  * core count (not Spark's default 200 — measured pure overhead at
  * single-node scale; on a real cluster pass `shufflePartitions` ≈ 2-3×
  * total cores). AQE on (skew splitting, partition coalescing), starting
  * from that count: an 8× initial fan-out measured ~9% slower on the
  * sf0.1 suite, and its one measured win (sf10 under concurrent load)
  * has no benchmark workload to hold it. The
  * ObjectHashAggregate fallback threshold is raised from its 128-key
  * default — the silent 2.3× cliff on every collect_list-family
  * aggregation this engine's ordered traces rely on. The generated-class
  * cache holds a whole query suite, so repeated queries skip
  * recompilation.
  *
  * `interactive`: the pruned per-problem latency profile. One shuffle
  * partition (a pruned problem partition is a few hundred rows) and AQE
  * off — its per-exchange re-plan + materialization is fixed latency
  * with nothing to adapt at this size. Combine with
  * `CanonicalQueries.interactive` on the pruned input for single-stage
  * execution. Each collect then runs through
  * [[graft.plans.ResultCollectExec]] (the extensions' physical rule, in
  * both profiles). On a local master a one-partition, narrow read of at
  * most `spark.sql.autoBroadcastJoinThreshold` bytes of files, which is
  * every per-problem collect and both join broadcasts, runs on the
  * calling thread with no Spark job: no DAG scheduling, task binary
  * broadcast or executor hand-off (`interactive` `pass_ms` 107.7 →
  * 86.1 ms scaled, median of 10 alternating pairs on a 4-core host).
  * Any other collect is one job whose function the closure cleaner does
  * not re-parse Spark's `RDD` and `SparkContext` classes for, which was
  * the largest fixed per-query cost on this path before (31% of the
  * driver's CPU samples on a 4-core host). Each pruned scan reads through
  * [[graft.lake.ParquetFormat]], whose reader broadcast of the Hadoop
  * conf leaves out the per-key sources Hadoop gzips one by one (8–10 ms
  * per scan before, 2–3 ms after, on the same host). With AQE off, the
  * SRM view, clustering and three-way join plan each query shape once
  * ([[graft.plans.PreparedPlans]]): later calls bind their partition
  * values into the kept optimized plan, and only physical planning runs
  * per call (build plus planning per operation 18.9 → 5.9 ms in a traced
  * run on a 4-core host).
  * Whole-stage codegen builds its RDDs through partition evaluators
  * (both profiles), which skip the closure cleaner.
  *
  * Both profiles bind the `file:` scheme to [[graft.lake.LocalFs]]
  * ([[FileSystemConf]]). Without the native Hadoop library, Hadoop's
  * local FileSystem changes permissions by running `chmod` as a child
  * process, once for every file and directory a write creates (data
  * files, their `.crc` siblings, partition directories, manifests),
  * and `FileContext` renames (Structured Streaming checkpoints and
  * sinks) run `readlink` twice each; `LocalFs` does both
  * through `java.nio` with the same modes and checksums. Both also bind
  * Spark's file commit protocol to [[graft.lake.LakeCommitProtocol]]
  * ([[CommitProtocolConf]]) for every file write, lake or not: each
  * task writes its files once, under their final names, with no
  * `_temporary` staging, no rename and no `_SUCCESS` marker, and hands
  * back the list of files it wrote, which is what a lake commit records
  * instead of listing the table. Both bindings are a fixed part of the
  * session, not an option.
  *
  * `getOrCreate` caveat (Spark semantics, not graft's): if a session is
  * already active in the JVM, it is returned as-is and this factory's
  * configs/extensions do NOT apply — build the graft session first.
  */
object GraftSession {

  /** Core count for the project's mains: `SPARK_GRAFT_CPUS`, else every
    * available processor. A concrete count, not "local[*]": `batch`
    * sizes shuffle partitions from it. */
  private[graft] def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(c) => c.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be an integer core count, got '$c'"))
  }

  /** The `file:` FileSystem binding for both Hadoop APIs, applied by
    * every session this factory builds (and by the test session). */
  private[graft] val FileSystemConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.lake.LocalFs].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[graft.lake.LocalFs.Context].getName)

  /** The file commit protocol binding, applied by every session this
    * factory builds (and by the test session). */
  private[graft] val CommitProtocolConf: Map[String, String] = Map(
    "spark.sql.sources.commitProtocolClass" ->
      classOf[graft.lake.LakeCommitProtocol].getName)

  private def base(master: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      // Static conf, default 100 entries: a pass over the declared
      // queries compiles more whole-stage classes than that, so every
      // repeat of a query would pay Janino recompilation again
      // (~0.1-0.3 s/query). Sized so a full pass stays resident.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // Whole-stage codegen builds its RDD with
      // `mapPartitionsWithEvaluator`, which does not run the closure
      // cleaner (`mapPartitionsWithIndex` re-parses the closure's class
      // on every execution).
      .config("spark.sql.execution.usePartitionEvaluator", "true")
      .config(FileSystemConf)
      .config(CommitProtocolConf)

  def batch(master: String = "local[*]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors)
      : SparkSession =
    base(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()

  def interactive(master: String = "local[*]"): SparkSession =
    base(master)
      .config("spark.sql.shuffle.partitions", 1)
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
}
