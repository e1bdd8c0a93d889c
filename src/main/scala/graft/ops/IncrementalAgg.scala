package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of a mergeable per-group stats table — the
  * pattern that replaces full recomputation when data arrives in
  * appends. At 100 TB a nightly `GROUP BY` over the whole fact table is
  * the single most expensive job in the warehouse; with a mergeable
  * state (count / sum / min / max are all commutative monoids) the
  * correct result is `merge(prev_state, state_of(delta))`, whose cost
  * is ∝ the DELTA plus the touched groups — the same
  * touched-partitions-only discipline as
  * [[graft.lake.Lakehouse.upsert]].
  *
  * `merge` keeps untouched groups out of the shuffle entirely: a
  * broadcast anti-join passes them through unchanged, and only rows of
  * groups the delta actually touches (typically a tiny fraction at
  * scale: late-arriving partitions, the current day) enter the
  * re-aggregation. Exactness: sums carry `decimal(28,2)` state, so the
  * merged result is bit-identical to the full recompute — oracle q68
  * checks the two-era merge against DuckDB's one-shot aggregation.
  */
object IncrementalAgg {

  /** The mergeable state of `GROUP BY keys → count/sum/min/max(v)`.
    * One row per group: `(keys…, n_rows, sum_v, min_v, max_v)`. */
  def statsOf(df: DataFrame, keys: Seq[String], v: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n_rows"),
      sum(col(v).cast("decimal(28,2)")).cast("decimal(28,2)").as("sum_v"),
      min(col(v)).as("min_v"),
      max(col(v)).as("max_v"))

  /** [[statsOf]] plus a MERGEABLE distinct-count state: an HLL sketch
    * of `distinctCol` per group (Spark's Datasketches-backed
    * `hll_sketch_agg` — sketches union losslessly, so the merged
    * estimate equals the one-shot estimate EXACTLY, not approximately:
    * merge-order invariance is spec-asserted). The estimate itself is
    * approximate vs a true COUNT(DISTINCT) — that is the 100 TB trade:
    * exact distinct state is unbounded per group, the sketch is KBs. */
  def statsOfWithDistinct(df: DataFrame, keys: Seq[String], v: String,
      distinctCol: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("n_rows"),
      sum(col(v).cast("decimal(28,2)")).cast("decimal(28,2)").as("sum_v"),
      min(col(v)).as("min_v"),
      max(col(v)).as("max_v"),
      hll_sketch_agg(col(distinctCol)).as("distinct_sketch"))

  /** The delta's distinct keys under UNAMBIGUOUS names: prev and delta
    * typically share lineage (two filters of one frame), so a condition
    * built from same-named columns can resolve both sides to one
    * attribute and degenerate to `true` — renaming the right side makes
    * the null-safe condition well-defined. Semi/anti joins emit only
    * prev's columns, so the rename never leaks. */
  private def distinctKeysRenamed(delta: DataFrame, keys: Seq[String]) =
    delta.select(keys.map(k => col(k).as(s"__dk_$k")): _*).distinct()

  /** Null-safe equality on every group key. `groupBy` keeps NULL as a
    * real group, so the touched/untouched split must route a NULL-keyed
    * delta to the SAME side as prev's NULL-keyed state row — a plain
    * `=` join would leave prev's NULL row in "untouched" AND emit the
    * delta's NULL row from "touched", duplicating the group. */
  private def keyCond(prev: DataFrame, deltaKeys: DataFrame,
      keys: Seq[String]) =
    keys.map(k => prev(k) <=> deltaKeys(s"__dk_$k")).reduce(_ && _)

  /** [[merge]] for [[statsOfWithDistinct]] state: sketches union via
    * `hll_union_agg`. */
  def mergeWithDistinct(prev: DataFrame, delta: DataFrame,
      keys: Seq[String]): DataFrame = {
    val deltaKeys = distinctKeysRenamed(delta, keys)
    val cond = keyCond(prev, deltaKeys, keys)
    val untouched = prev.join(broadcast(deltaKeys), cond, "left_anti")
    val touched = prev.join(broadcast(deltaKeys), cond, "left_semi")
      .unionByName(delta)
      .groupBy(keys.map(col): _*).agg(
        sum(col("n_rows")).as("n_rows"),
        sum(col("sum_v")).cast("decimal(28,2)").as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"),
        hll_union_agg(col("distinct_sketch")).as("distinct_sketch"))
    untouched.unionByName(touched)
  }

  /** Read the distinct-count estimate off the sketch state. */
  def distinctEstimate(stats: DataFrame): DataFrame =
    stats.withColumn("n_distinct",
      hll_sketch_estimate(col("distinct_sketch")))

  /** Fold `delta` state into `prev` state. Groups the delta does not
    * touch pass through WITHOUT shuffling (broadcast anti-join on the
    * delta's distinct keys — small by construction: it is the set of
    * groups in one append); touched groups re-combine through one
    * aggregation over `|touched prev rows| + |delta groups|` rows.
    * Result == `statsOf(full)` for every interleaving of appends
    * (monoid associativity; spec + oracle q68). */
  def merge(prev: DataFrame, delta: DataFrame,
      keys: Seq[String]): DataFrame = {
    val deltaKeys = distinctKeysRenamed(delta, keys)
    val cond = keyCond(prev, deltaKeys, keys)
    val untouched = prev.join(broadcast(deltaKeys), cond, "left_anti")
    val touched = prev.join(broadcast(deltaKeys), cond, "left_semi")
      .unionByName(delta)
      .groupBy(keys.map(col): _*).agg(
        sum(col("n_rows")).as("n_rows"),
        sum(col("sum_v")).cast("decimal(28,2)").as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
    untouched.unionByName(touched)
  }
}
