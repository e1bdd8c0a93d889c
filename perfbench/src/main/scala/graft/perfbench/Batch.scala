package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Declared queries from `SparkEntry.queries`, run sequentially in a
  * seed-permuted order per round. Each result is collected to the driver
  * (at most a few thousand rows here), so every operation is checked: its
  * row count and order-insensitive content hash against pinned values. */
final class Batch extends Workload {
  import Batch._

  private var dir = ""
  private var sizes: Data.TableSizes = _
  private val operators = scala.collection.mutable.Map.empty[String, Seq[String]]
  private val resultRows = scala.collection.mutable.Map.empty[String, Long]

  def kinds: Seq[String] = Families.flatMap(_._2)

  private def sf(ctx: Ctx) = if (ctx.tiny) 0.001 else 0.01

  def setup(ctx: Ctx, rep: Int): Unit = {
    // a dump keeps the tables and the oracle SQL next to the results
    dir = s"${ctx.dump.getOrElse(ctx.work)}/batch$rep"
    Workload.deleteTree(dir)
    ctx.dump.foreach { d =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/oracle_sql.json"),
        Json(kinds.map(k => k -> graft.SparkEntry.oracleSql(k)).toMap)
          .getBytes("UTF-8"))
    }
    // fixed data: the pinned hashes hold for these tables only; the run
    // seed orders the queries
    sizes = Data.writeTables(ctx.spark, dir, sf(ctx), DataSeed)
  }

  def round(ctx: Ctx, rnd: scala.util.Random): Seq[String] =
    rnd.shuffle(kinds)

  // query times level off after the third pass (`warm` is the first); the
  // third is timed, and the median of five passes sets it aside
  override def warmRounds(ctx: Ctx): Int = if (ctx.tiny) 0 else 1

  // a query's garbage otherwise lands on whichever query runs next
  override def gcBeforeOp: Boolean = true

  // a median of at least five per query, on a slow host too
  override def minTimedRounds(ctx: Ctx): Int = if (ctx.tiny) 1 else 5

  def run(ctx: Ctx, kind: String): () => Checked = {
    val t = ctx.tracer
    val df = t.span("testqueries.build")(
      graft.SparkEntry.queries(kind)(ctx.spark, dir))
    val plan = t.span("catalyst.plan")(df.queryExecution.executedPlan)
    if (!operators.contains(kind)) operators(kind) = operatorSet(plan)
    val got = t.span("spark.exec")(df.collect())
    ctx.dump.foreach(d =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$d/$kind"))
    val rows = if (ctx.corrupt) got.dropRight(1) else got
    () => check(ctx, kind, rows)
  }

  private def check(ctx: Ctx, kind: String, rows: Array[Row]): Checked = {
    val (n, hash) = fingerprint(rows)
    resultRows(kind) = n
    val key = s"${if (ctx.tiny) "tiny" else "standard"}/$kind"
    if (ctx.dump.isDefined) println(s"PIN $key $n $hash")
    val err = ctx.pins.get(key) match {
      case None => Some(s"no pinned result for $key: rows $n hash $hash")
      case Some((r, h)) if r != n || h != hash =>
        Some(s"rows $n hash $hash != pinned rows $r hash $h")
      case _ => None
    }
    Checked(n, err)
  }

  def inputs(ctx: Ctx): Map[String, Any] = Map(
    "scale_factor" -> sf(ctx), "data_seed" -> DataSeed,
    "tables_bytes" -> Workload.dirStats(dir)._1,
    "lineitem_rows" -> sizes.lineitem, "orders_rows" -> sizes.orders,
    "embeddings_rows" -> sizes.embeddings,
    "physical_operators" -> operators.toMap,
    "result_rows" -> resultRows.toMap)

  def domain(ctx: Ctx, ms: Map[String, Seq[Double]]): Map[String, Any] = {
    val perQuery = kinds.map(k => k -> Stats.median(ms.getOrElse(k, Nil)))
      .toMap
    Families.map { case (f, qs) =>
      s"${f}_s" -> qs.map(perQuery).sum / 1000.0
    }.toMap ++ Map("query_median_ms" -> perQuery)
  }
}

object Batch {
  /** Seed of the batch tables; the pinned results are for this seed. */
  val DataSeed = 42L

  /** One query per family whose plan a runtime gate chooses (q09's
    * fingerprint form, LSH auto-salt in q117) or that a roadmap item
    * targets (the q73 fuzzy join), next to one no gate touches (q04). Four
    * queries rather than more, so that a run holds several timed passes. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "canonical" -> Seq("q04_pricing_summary", "q09_behavioral_clustering"),
    "text" -> Seq("q73_fuzzy_join"),
    "vector_graph" -> Seq("q117_lsh_ann_shard"))

  /** Row count and an order-insensitive content hash: the sum of each
    * row's 32-bit string hash, as hex. */
  def fingerprint(rows: Array[Row]): (Long, String) = {
    val sum = rows.iterator.map(r =>
      scala.util.hashing.MurmurHash3.stringHash(r.toString) & 0xffffffffL).sum
    (rows.length.toLong, f"$sum%x")
  }

  /** Physical operator names plus the engine's own expressions (class
    * names under `graft.`), so a plan-choosing gate that flips shows up
    * as a changed set. */
  def operatorSet(plan: SparkPlan): Seq[String] = {
    val out = scala.collection.mutable.SortedSet.empty[String]
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case s: QueryStageExec => visit(s.plan)
      case _ =>
        out += p.nodeName
        p.expressions.foreach(_.foreach { e =>
          if (e.getClass.getName.startsWith("graft."))
            out += e.getClass.getSimpleName
        })
        p.subqueries.foreach(visit)
        p.children.foreach(visit)
    }
    visit(plan)
    out.toSeq
  }
}
