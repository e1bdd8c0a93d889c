package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, ElementAt, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.plans.{PreparedPlans, SigListAgg}

/** The reference's four canonical analytical queries as reusable
  * DataFrame→DataFrame builders (SURVEY §2.3-§2.6, §7 item 4). Each takes
  * the lakehouse tables (already partition-filtered by the caller for the
  * per-problem paths) and returns the result frame.
  *
  * Scale notes: per-problem queries operate on one pruned partition;
  * the dimension inputs to the three-way join are broadcast; clustering
  * hashes fingerprints to fixed-width keys before its final shuffle. On
  * a local master each per-problem collect, both broadcasts included, is
  * a small local read that [[graft.plans.ResultCollectExec]] computes on
  * the calling thread, so a per-problem query starts no Spark job.
  */
object CanonicalQueries {

  /** Interactive execution of a pruned per-problem partition: declare the
    * input single-partition (`coalesce(1)` — no shuffle, and
    * `SinglePartition` output partitioning satisfies every downstream
    * `ClusteredDistribution`/`AllTuples` requirement), so an entire
    * canonical query collapses to ONE stage with ZERO exchanges instead
    * of a multi-stage job whose scheduling dominates (measured ~2×
    * latency cut on every canonical query at reference problem sizes).
    * That one partition over one pruned partition's files is what
    * [[graft.plans.ResultCollectExec]] computes on the calling thread, so
    * on a local master the query runs no job and no task at all. Use ONLY
    * on pruned inputs (one problem's partition); the batch path keeps
    * full parallelism. */
  def interactive(prunedPartition: DataFrame): DataFrame =
    prunedPartition.coalesce(1)

  /** `build(inputs)` from its kept plan, or built plainly where
    * [[graft.plans.PreparedPlans]] does not apply. */
  private def prepared(kind: String, inputs: DataFrame*)(
      build: Seq[DataFrame] => DataFrame): DataFrame =
    PreparedPlans.bind(kind, inputs)(build)
      .map(PreparedPlans.dataset(inputs.head.sparkSession, _))
      .getOrElse(build(inputs))

  /** Q1 — SRM output view (`benchmark_srm_output_view.py:50-77`): rows =
    * (test_id, step_id) stimulus, one column per implementation, cells =
    * observed output. `implValues` pins the column set (explicit list →
    * deterministic order, no extra distinct job); pass the problem's
    * implementations. Cells use min() not first(): single-row groups in
    * practice, deterministic under duplicates.
    *
    * Implementation: ONE native map aggregation
    * (`plans/KeyedMinAgg` — a single hash upsert per input row), sorted,
    * then an `element_at` column projection, instead of
    * `pivot().agg(min)` which compiles to one conditional min-aggregate
    * PER implementation evaluated on EVERY row (N× expression evals and
    * buffers). Output is bit-identical to the pivot form
    * ([[srmOutputViewPivot]], spec-asserted).
    *
    * Prepared ([[graft.plans.PreparedPlans]]): the sorted aggregation is
    * planned once per input shape, and each call binds its partition
    * values and puts its own projection on top, so one kept plan serves
    * every problem, whatever its implementation set. */
  def srmOutputView(observations: DataFrame,
      implValues: Seq[String]): DataFrame =
    PreparedPlans.bind("srm", Seq(observations))(in => srmByKey(in.head))
      match {
        case Some(byKey) =>
          val Seq(t, s, m) = byKey.output
          PreparedPlans.dataset(observations.sparkSession, Project(
            t +: s +: implValues.map(v =>
              Alias(ElementAt(m, Literal(v)), v)()), byKey))
        case None =>
          srmByKey(observations).select(col("test_id") +: col("step_id") +:
            implValues.map(v => element_at(col("__m"), lit(v)).as(v)): _*)
      }

  /** (test_id, step_id, `__m`: implementation → min output), sorted by
    * stimulus: the aggregation behind [[srmOutputView]]. */
  private[graft] def srmByKey(observations: DataFrame): DataFrame =
    observations
      .groupBy(col("test_id"), col("step_id"))
      .agg(graft.plans.KeyedMinAgg.keyedMin(
        col("implementation_id"), col("output")).as("__m"))
      .orderBy("test_id", "step_id")

  /** The built-in `pivot().agg(min)` form — kept as the bit-parity
    * reference for [[srmOutputView]]'s map aggregation. */
  def srmOutputViewPivot(observations: DataFrame,
      implValues: Seq[String]): DataFrame =
    observations
      .groupBy(col("test_id"), col("step_id"))
      .pivot("implementation_id", implValues)
      .agg(min(col("output")))
      .orderBy("test_id", "step_id")

  /** Dynamic variant (reference behavior: column set is
    * data-dependent). Two jobs: distinct pass then the map aggregation
    * of [[srmOutputView]], which has no pivot width cap. Sorted for
    * deterministic column order.
    *
    * Driver guard: the discovered implementation list is unbounded, and
    * a pathological 10⁷-implementation column would OOM the driver
    * during discovery. The collect reads `maxImpls + 1` rows at most
    * (LIMIT is pushed into the distinct, so the overflow check costs
    * one extra row, not a count job) and fails loudly past the cap: a
    * view wider than ~100k columns is a modeling error, not a pivot. */
  def srmOutputViewDynamic(observations: DataFrame,
      maxImpls: Int = 100000): DataFrame = {
    require(maxImpls > 0)
    val impls = observations.select("implementation_id").distinct()
      .limit(maxImpls + 1)
      .collect().map(_.getString(0)).sorted.toSeq
    if (impls.size > maxImpls)
      throw new IllegalArgumentException(
        s"srmOutputViewDynamic: more than $maxImpls distinct " +
          "implementations - a pivot this wide is unusable; raise " +
          "maxImpls explicitly or aggregate instead of pivoting")
    srmOutputView(observations, impls)
  }

  /** Per-(impl, test, run) output-trace signature — the inner stage of
    * clustering (`benchmark_behavioral_clustering.py:53-62`):
    * `md5(to_json(list(value ORDER BY ord, value)))` bit-for-bit, as the
    * one-segment case of `plans/SigListAgg` (constant segment key,
    * element 0) — one aggregation operator, no per-group interpreted
    * to_json. Fixed-width 128-bit sigs also shrink the downstream vote
    * shuffle vs raw JSON traces. */
  private[graft] def traceSig(ord: Column, value: Column): Column =
    SigListAgg.sigs(lit(0), ord, value).getItem(0)

  /** Q2 — behavioral clustering (`benchmark_behavioral_clustering.py:
    * 49-96`): per-test trace signatures → per-impl fingerprint → group by
    * fingerprint → clusters ranked by size. Returns
    * (cluster_size, implementations, fingerprint_hash).
    *
    * Stages 1+2 (per-(test, run) signature → per-impl fingerprint) run
    * as ONE `plans/SigListAgg` aggregation — one operator pair instead
    * of two ObjectHashAggregate pairs with interpreted to_json per
    * group — and its rows equal [[behavioralClusteringComposed]]'s,
    * `fingerprint_hash` included (spec-asserted).
    *
    * Batch-scale note: on LARGE inputs, pre-partition the observations
    * with `.repartition(col("implementation_id"))` before calling — the
    * single upfront exchange satisfies the aggregation (subset-key
    * reuse, measured 1.6× on the sf0.1 analog). Do NOT pre-partition on
    * the [[interactive]] path: the extra exchange defeats its
    * single-stage execution.
    *
    * Prepared ([[graft.plans.PreparedPlans]]): planned once per input
    * shape; each call binds its partition values. */
  def behavioralClustering(observations: DataFrame): DataFrame =
    prepared("clustering", observations)(in =>
      behavioralClusteringPlain(in.head))

  /** The Dataset build behind [[behavioralClustering]]. */
  private[graft] def behavioralClusteringPlain(observations: DataFrame)
      : DataFrame = {
    val fps = observations
      .groupBy(col("implementation_id"))
      .agg(md5(to_json(SigListAgg.sigs(
        struct(col("test_id"), col("run_id")), col("step_id"),
        col("output")))).as("fp"))
    clusterByFingerprint(fps)
  }

  /** The pure-built-in clustering pipeline: three groupBy stages with
    * md5/to_json fingerprints, bit-reproducible in any SQL engine — the
    * parity reference for [[behavioralClustering]]. */
  def behavioralClusteringComposed(observations: DataFrame): DataFrame = {
    val sigs = observations
      .groupBy(col("implementation_id"), col("test_id"), col("run_id"))
      .agg(to_json(Fns.orderedCollect(col("step_id"), col("output")))
        .as("sig"))
    val fps = sigs
      .groupBy(col("implementation_id"))
      // md5(sig): fixed-width keys through the shuffle (SURVEY §7)
      .agg(md5(to_json(Fns.orderedCollect(
        struct(col("test_id"), col("run_id")), md5(col("sig"))))).as("fp"))
    clusterByFingerprint(fps)
  }

  /** Final clustering stage over (implementation_id, fp). */
  private def clusterByFingerprint(fps: DataFrame): DataFrame =
    fps.groupBy(col("fp").as("fingerprint_hash"))
      .agg(count(lit(1)).as("cluster_size"),
        sort_array(collect_list(col("implementation_id")))
          .as("implementations"))
      .orderBy(desc("cluster_size"), col("fingerprint_hash"))

  /** Consensus oracle = the largest behavioral cluster's implementations
    * (`notebooks/analysis.ipynb` cell 4: "clusters are ranked by cluster
    * size, so the first result acts as a consensus oracle"). */
  def consensusOracle(observations: DataFrame): DataFrame =
    behavioralClustering(observations).limit(1)

  /** Consensus verdicts: score every implementation per test against the
    * consensus (majority) behavior — the SRC analysis the clustering
    * feeds (reference notebook cell 4: the largest cluster "acts as a
    * consensus oracle"). A (impl, test) passes if its output trace
    * matches the most common trace signature for that test; ties break
    * to the lexicographically smallest signature. Returns per-impl
    * (implementation_id, n_tests, n_agree, agreement_ratio). */
  def consensusVerdicts(observations: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // votes and consensus as two window passes over the per-(impl,
    // test, run) signature rows: vote weight = distinct implementations
    // per (test, sig); consensus = the ordered-window head. Both window
    // specs and the signature aggregation are satisfied by ONE
    // hash-partitioning (test_id is a grouping-key subset on the
    // interactive/pre-partitioned path), and no implementation set is
    // materialized or exploded (measured ~2x on the q50 analog).
    observations
      .groupBy(col("implementation_id"), col("test_id"), col("run_id"))
      .agg(traceSig(col("step_id"), col("output")).as("sig"))
      // an implementation votes once per (test, sig) even when several
      // of its runs produce that sig — count distinct impls per group
      .withColumn("votes", size(collect_set(col("implementation_id"))
        .over(Window.partitionBy("test_id", "sig"))))
      // consensus = min(struct(-votes, sig)) over the test partition:
      // an UNORDERED whole-partition window whose required sort
      // (test_id) is a prefix of window 1's (test_id, sig), so its
      // SortExec elides — same (desc votes, asc sig) tie-break as the
      // old `first() over (order by ...)` form without its second
      // full-stream sort (the q50 round-11 A/B; an aggregate+join-back
      // variant re-executes the signature aggregation twice and loses)
      .withColumn("consensus_sig",
        min(struct(negate(col("votes")).as("nv"), col("sig")))
          .over(Window.partitionBy("test_id"))
          .getField("sig"))
      .select(col("implementation_id"), col("test_id"),
        (col("sig") === col("consensus_sig")).cast("int").as("agree"))
      // collapse the run dimension first (unlike the q50 lineitem
      // analog, which has none): an implementation with several runs
      // has several rows per test, and at most ONE sig per test is the
      // consensus, so "this impl matched consensus on this test" =
      // max(agree) — summing raw rows would double-count repeated sigs
      .groupBy("implementation_id", "test_id")
      .agg(max(col("agree")).as("agree"))
      .groupBy("implementation_id")
      .agg(count(lit(1)).as("n_tests"),
        sum(col("agree")).as("n_agree"),
        (sum(col("agree")).cast("double") /
          count(lit(1))).as("agreement_ratio"))
      .orderBy(desc("agreement_ratio"), col("implementation_id"))
  }

  /** Q3 — three-way join (`benchmark_three_way_join.py:53-74`):
    * observations ⋈ code_implementations ⋈ tests on composite keys;
    * reattaches source code to every observation row. Dimensions
    * broadcast (small per problem; at 100 TB the fact side never
    * shuffles).
    *
    * Prepared ([[graft.plans.PreparedPlans]]): planned once per input
    * shape; each call binds its partition values. */
  def threeWayJoin(observations: DataFrame, code: DataFrame,
      tests: DataFrame): DataFrame =
    prepared("join", observations, code, tests) {
      case Seq(o, c, t) => threeWayJoinPlain(o, c, t)
    }

  /** The Dataset build behind [[threeWayJoin]]. */
  private[graft] def threeWayJoinPlain(observations: DataFrame,
      code: DataFrame, tests: DataFrame): DataFrame =
    observations
      .join(broadcast(code.withColumnRenamed("source_code", "program_code")
          .select("data_set_id", "problem_id", "implementation_id",
            "program_code", "code_hash")),
        Seq("data_set_id", "problem_id", "implementation_id"), "inner")
      .join(broadcast(tests
          .withColumnRenamed("source_code", "test_sheet")
          .select("data_set_id", "problem_id", "test_id", "test_sheet",
            "focal_interface")),
        Seq("data_set_id", "problem_id", "test_id"), "inner")

  /** Q4a — dataset statistics (`stats.py:14-35`): per-problem counts →
    * dataset-level totals/ratios, excluding oracle rows.
    *
    * `approx = true` swaps COUNT(DISTINCT) for approx_count_distinct
    * (HyperLogLog++, SURVEY A5's 100 TB note): one pass, no
    * distinct-expansion shuffle, ~2% default relative error. */
  def datasetStats(observations: DataFrame,
      approx: Boolean = false): DataFrame = {
    def cd(c: Column): Column =
      if (approx) approx_count_distinct(c) else countDistinct(c)
    val perProblem = observations
      .filter(!coalesce(col("specified_oracle"), lit(false)))
      .groupBy("data_set_id", "problem_id")
      .agg(
        cd(col("implementation_id")).as("n_implementations"),
        cd(col("test_id")).as("n_tests"),
        count(lit(1)).as("n_observations"))
    perProblem.groupBy("data_set_id")
      .agg(
        count(lit(1)).as("n_problems"),
        sum(col("n_implementations")).as("total_implementations"),
        sum(col("n_observations")).as("total_observations"),
        (sum(col("n_implementations")).cast("double") / count(lit(1)))
          .as("avg_implementations_per_problem"),
        (sum(col("n_tests")).cast("double") / count(lit(1)))
          .as("avg_tests_per_problem"))
      .orderBy("data_set_id")
  }

  /** Q4b — per-problem statistics (`per_problem_stats.py:14-33`). */
  def perProblemStats(observations: DataFrame): DataFrame =
    observations
      .filter(!coalesce(col("specified_oracle"), lit(false)))
      .groupBy("data_set_id", "problem_id")
      .agg(
        countDistinct(col("implementation_id")).as("n_implementations"),
        countDistinct(col("test_id")).as("n_tests"),
        count(lit(1)).as("n_observations"),
        max(col("execution_time_ms")).as("max_execution_time_ms"))
      .orderBy("data_set_id", "problem_id")
}
