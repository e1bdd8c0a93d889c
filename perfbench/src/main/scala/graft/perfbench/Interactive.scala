package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ingest.ArenaIngest
import graft.lake.Lakehouse
import graft.queries.CanonicalQueries
import graft.schema.Schemas

/** Per-problem canonical queries on one pruned `(data_set_id,
  * problem_id)` partition through `CanonicalQueries.interactive`, the
  * reference's headline path. The three tables are opened once in setup
  * (opening lists every partition directory); each operation then builds
  * its pruned DataFrame and query fresh, as a user's call does. */
final class Interactive extends Workload {
  private val ds = "synth"
  private var wh = ""
  private var tables = Seq.empty[DataFrame]
  private var truth = Map.empty[String, Data.ProblemTruth]
  private var impls = Map.empty[String, Seq[String]]
  private var problems = IndexedSeq.empty[String]
  private var current = ""
  private var order = Iterator.empty[String]
  /** Seconds each set-up spent in the ingest pipeline and appends. */
  private val ingestS = scala.collection.mutable.ArrayBuffer.empty[Double]

  // reference-sized problems (BASELINE: ~650 observation rows on average);
  // 16 of them rather than the reference's 509, so that three set-ups fit
  // in one run
  private def shape(ctx: Ctx) =
    if (ctx.tiny) Data.ArenaShape(8, 3, 6, 2, 3, 3)
    else Data.ArenaShape(16, 20, 32, 4, 6, 5)

  def kinds: Seq[String] = Seq("srm", "cluster", "join")

  /** Untimed cycles over every problem before the timed ones. */
  private val WarmCycles = 2

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    wh = s"${ctx.work}/interactive-wh$rep"
    Workload.deleteTree(wh)
    val t = ctx.tracer
    val (export, plan) = Data.arenaExport(spark, shape(ctx), ctx.seed, "p")
    val cells = t.span("data.generate") {
      val c = export.persist()
      c.count()
      c
    }
    val lake = new Lakehouse(spark, wh)
    // the lakehouse is written with the batch profile's shuffle settings;
    // the interactive profile only governs the queries
    val t0 = System.nanoTime()
    Main.withConf(spark, Main.batchConf(spark)) {
      val clustered = t.span("ingest.cluster")(
        ArenaIngest.clusterByProblemAuto(cells))
      val obs = t.span("ingest.regroup_build")(
        ArenaIngest.observationsFromArena(clustered, ds))
      t.span("lake.append.observations")(lake.append("observations", obs,
        Schemas.observations,
        sortCols = Seq("implementation_id", "test_id", "step_id"),
        clustered = true))
      t.span("lake.append.code_implementations")(lake.append(
        "code_implementations", ArenaIngest.codeFromArena(cells, ds),
        Schemas.codeImplementations))
      t.span("lake.append.tests")(lake.append("tests",
        ArenaIngest.testsFromArena(cells, ds), Schemas.tests))
    }
    ingestS += (System.nanoTime() - t0) / 1e9
    cells.unpersist()
    tables = Seq(lake.observations, lake.codeImplementations, lake.tests)
    truth = plan.map(p => p.problem -> p).toMap
    problems = plan.map(_.problem).toIndexedSeq
    // the SRM column set is a slowly-changing dimension: read once from
    // the code table, as a catalog would hold it
    impls = t.span("catalog")(lake.codeImplementations
      .select("problem_id", "implementation_id").collect()
      .groupBy(_.getString(0))
      .map { case (p, rs) => p -> rs.map(_.getString(1)).sorted.toSeq })
  }

  /** One problem per round, visiting every problem once (in a seeded
    * order) before any repeats; the three kinds in a seeded order. */
  def round(ctx: Ctx, rnd: scala.util.Random): Seq[String] = {
    if (!order.hasNext) order = rnd.shuffle(problems).iterator
    current = order.next()
    rnd.shuffle(kinds)
  }

  override def cycleDone: Boolean = !order.hasNext

  override def beginTimed(): Unit = order = Iterator.empty

  override def warm(ctx: Ctx): Seq[String] = {
    current = problems.head
    kinds
  }

  // per-operation latency falls by about half over the first three cycles
  // (the warm-up and the first timed one), then slowly; a count, so a slow
  // host is timed as warm as a fast one
  override def warmRounds(ctx: Ctx): Int =
    if (ctx.tiny) 0 else WarmCycles * problems.size

  def run(ctx: Ctx, kind: String): () => Checked = {
    val t = ctx.tracer
    val p = current
    val Seq(o, c, s) = tables.map(table => CanonicalQueries.interactive(
      table.filter(col("data_set_id") === ds && col("problem_id") === p)))
    val df = t.span("queries.build")(kind match {
      case "srm" => CanonicalQueries.srmOutputView(o, impls(p))
      case "cluster" => CanonicalQueries.behavioralClustering(o)
      case "join" => CanonicalQueries.threeWayJoin(o, c, s)
    })
    t.span("catalyst.plan")(df.queryExecution.executedPlan)
    val got = t.span("spark.exec")(df.collect())
    val rows = if (ctx.corrupt) got.dropRight(1) else got
    () => check(kind, p, rows)
  }

  private def check(kind: String, p: String, rows: Array[Row]): Checked = {
    val want = truth(p)
    val n = rows.length.toLong
    val err = kind match {
      case "srm" =>
        if (n != want.srmRows)
          Some(s"srm rows $n != distinct (test_id, step_id) ${want.srmRows}")
        else if (rows.head.length != 2 + want.impls)
          Some(s"srm columns ${rows.head.length} != ${2 + want.impls}")
        else None
      case "cluster" =>
        val members = rows.map(_.getAs[Long]("cluster_size")).sum
        if (members != want.impls)
          Some(s"cluster sizes sum to $members != implementations " +
            want.impls)
        else None
      case "join" =>
        if (n != want.observations)
          Some(s"join rows $n != observation rows ${want.observations}")
        else None
    }
    Checked(n, err.map(e => s"$p: $e"))
  }

  def inputs(ctx: Ctx): Map[String, Any] = {
    val (bytes, files) = Workload.dirStats(wh)
    val obs = truth.values.map(_.observations).sum
    Map("problems" -> problems.size, "observation_rows" -> obs,
      "mean_rows_per_problem" -> obs.toDouble / math.max(1, problems.size),
      "lake_bytes" -> bytes, "lake_files" -> files)
  }

  override def layerFacts(ctx: Ctx): Map[String, Double] = {
    val (bytes, files) = Workload.dirStats(wh)
    Map("lake.files_written" -> files.toDouble,
      "lake.bytes_written" -> bytes.toDouble)
  }

  def domain(ctx: Ctx, ms: Map[String, Seq[Double]]): Map[String, Any] = {
    val obs = truth.values.map(_.observations).sum
    kinds.flatMap { k =>
      val xs = ms.getOrElse(k, Nil)
      Seq(s"${k}_p50_ms" -> Stats.median(xs), s"${k}_n" -> xs.size,
        s"${k}_tail" -> Stats.tail(xs).map { case (p, v) =>
          Map("percentile" -> p, "ms" -> v) })
    }.toMap ++ Map(
      // the set-up's ingest of the lake: cluster, regroup, three appends
      "ingest_obs_per_s" -> obs / Stats.median(ingestS.toSeq),
      "stored_bytes_per_obs" -> Workload.dirStats(wh)._1.toDouble / obs)
  }
}
