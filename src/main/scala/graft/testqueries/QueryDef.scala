package graft.testqueries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark DataFrame builder over the testdata
  * tables plus (where SQL-expressible) the equivalent DuckDB oracle SQL.
  * Every query ends in a total-order ORDER BY and aliases every computed
  * column identically on both sides (the driver sorts columns by name and
  * hash-compares values — SURVEY.md §5).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  private val setups =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** Wall millis of each [[setupOnce]] set-up by tag, for Bench to
    * report apart from the timed query passes; a tag is absent until its
    * set-up has run in this JVM. */
  val setupMillis = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Run a query's side-effecting set-up (a stream into a sink, a
    * versioned warehouse build) once per (session, sf dir, tag), time
    * it into [[setupMillis]], and hand every later call the memoized
    * result. Repeated invocations — Bench's timed passes — then measure
    * the declared read over the set-up's output, not its rebuild, while
    * Verify's single invocation still runs set-up and read together
    * under the oracle gate. */
  def setupOnce[T <: AnyRef](s: SparkSession, d: String, tag: String)(
      build: => T): T =
    setups.computeIfAbsent(s"${System.identityHashCode(s)}:$d:$tag", _ => {
      val t0 = System.nanoTime()
      val out = build
      setupMillis.put(tag, (System.nanoTime() - t0) / 1000000L)
      out
    }).asInstanceOf[T]

  /** Total-order sort for PROVABLY BOUNDED results of expensive pipelines
    * (top-k heads, threshold-filtered pair lists, grouping-set cells):
    * shuffle everything to one partition, sort there. Identical row order
    * to orderBy(cols) but executes the upstream pipeline ONCE — a global
    * orderBy runs it twice (RangePartitioner samples the child first).
    *
    * NEVER use on an output that scales with the corpus — a single-task
    * sort is a straight scale-killer at 100× (the q03 lesson). For those,
    * range-partition on the sort keys as early as the pipeline allows
    * (narrow ops preserve the partitioning) and finish with
    * sortWithinPartitions, or use [[sortedP]] in tail position.
    * PlanShapeSpec enforces this: any declared query outside its bounded
    * allowlist that plans an `Exchange SinglePartition` fails CI. */
  def sorted1(df: DataFrame,
      cols: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols: _*)

  /** Parallel total order for corpus-proportional outputs, tail position:
    * range-partition on the sort keys, then sort within partitions —
    * equal keys land in one partition and partitions are ordered ranges,
    * so the concatenation is a GLOBAL order with no single-task sort
    * (exactly what orderBy plans, spelled out). Prefer placing
    * `repartitionByRange` EARLIER — on the raw rows, before aggregations
    * whose grouping keys contain the partition keys (the q03/q05
    * discipline) — when the pipeline preserves partitioning; this helper
    * is for pipelines whose final sort keys only exist at the end. */
  def sortedP(df: DataFrame,
      cols: org.apache.spark.sql.Column*): DataFrame =
    df.repartitionByRange(cols: _*).sortWithinPartitions(cols: _*)

  /** [[sortedP]] for EXPENSIVE corpus-proportional pipelines whose sort
    * keys only exist at the end: `repartitionByRange`'s RangePartitioner
    * samples its child first, so a bare sortedP executes the upstream
    * pipeline TWICE — measured ~2× on q53, whose per-row regex work
    * dwarfs its (small) output. The eager localCheckpoint materializes
    * the pipeline ONCE; sampling and the exchange then read the
    * checkpointed partitions. Use when pipeline cost ≫ output size;
    * plain [[sortedP]] when the tail input is already cheap to replay. */
  def sortedPMat(df: DataFrame,
      cols: org.apache.spark.sql.Column*): DataFrame =
    sortedP(df.localCheckpoint(true), cols: _*)

  /** Filter WITHOUT letting the predicate push below this point. A filter
    * on an expensive projected column (e.g. a 64-term dot product) would
    * otherwise be substituted into the join condition below and the
    * expression evaluated per candidate pair — twice. The temporary
    * nondeterministic column blocks PushDownPredicates (which requires a
    * fully-deterministic project list); values are unaffected. */
  def filterAbove(df: DataFrame,
      cond: org.apache.spark.sql.Column): DataFrame =
    df.withColumn("__barrier",
        org.apache.spark.sql.functions.monotonically_increasing_id())
      .filter(cond)
      .drop("__barrier")
}
