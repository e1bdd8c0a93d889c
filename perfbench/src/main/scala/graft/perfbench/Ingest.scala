package graft.perfbench

import org.apache.spark.sql.functions._
import graft.ingest.ArenaIngest
import graft.lake.Lakehouse
import graft.schema.Schemas

/** Continual ingest of one arena export into a warehouse that already
  * holds an earlier data set: `clusterByProblemAuto` →
  * `observationsFromArena` (+ code and tests dimensions) →
  * `Lakehouse.append`, then a read-back count of the new data set. Each
  * operation appends a new `data_set_id`; the append is undone after the
  * timed region, so every operation starts from the same warehouse. */
final class Ingest extends Workload {
  private val tables = Seq("observations", "code_implementations", "tests")
  private var wh = ""
  private var exportDir = ""
  private var exportBytes = 0L
  private var plan = Seq.empty[Data.ProblemTruth]
  private var baseVersion = Map.empty[String, Int]
  private var n = 0
  private var ds = ""
  private val written = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]

  private def shape(ctx: Ctx) =
    if (ctx.tiny) Data.ArenaShape(4, 3, 6, 2, 3, 3)
    else Data.ArenaShape(6, 12, 40, 3, 7, 5)

  def kinds: Seq[String] = Seq("ingest")

  private def ingest(ctx: Ctx, lake: Lakehouse, from: String,
      dataSet: String): Unit = {
    val t = ctx.tracer
    val raw = t.span("ingest.read")(ctx.spark.read.parquet(from))
    val clustered = t.span("ingest.cluster")(
      ArenaIngest.clusterByProblemAuto(raw))
    val obs = t.span("ingest.regroup_build")(
      ArenaIngest.observationsFromArena(clustered, dataSet))
    t.span("lake.append.observations")(lake.append("observations", obs,
      Schemas.observations,
      sortCols = Seq("implementation_id", "test_id", "step_id"),
      clustered = true))
    t.span("lake.append.code_implementations")(lake.append(
      "code_implementations", ArenaIngest.codeFromArena(raw, dataSet),
      Schemas.codeImplementations))
    t.span("lake.append.tests")(lake.append("tests",
      ArenaIngest.testsFromArena(raw, dataSet), Schemas.tests))
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/ingest$rep"
    Workload.deleteTree(dir)
    wh = s"$dir/wh"
    exportDir = s"$dir/export"
    val (history, _) = Data.arenaExport(spark, shape(ctx), ctx.seed, "h")
    history.write.parquet(s"$dir/history")
    val (cells, truth) = Data.arenaExport(spark, shape(ctx), ctx.seed, "e")
    cells.write.parquet(exportDir)
    plan = truth
    exportBytes = Workload.dirStats(exportDir)._1
    val lake = new Lakehouse(spark, wh)
    ingest(ctx.copy(tracer = new Tracer(false)), lake, s"$dir/history",
      "history")
    baseVersion = tables.map(t => t -> lake.currentVersion(t)).toMap
  }

  def round(ctx: Ctx, rnd: scala.util.Random): Seq[String] = kinds

  def run(ctx: Ctx, kind: String): () => Checked = {
    n += 1
    ds = s"export$n"
    val lake = new Lakehouse(ctx.spark, wh)
    ingest(ctx, lake, exportDir, ds)
    val mine = col("data_set_id") === ds
    val back = ctx.tracer.span("lake.readback")(
      lake.observations.filter(
        if (ctx.corrupt) mine && col("step_id") > 0 else mine).count())
    val dataSet = ds
    () => {
      val obs = plan.map(_.observations).sum
      val code = lake.codeImplementations.filter(mine).count()
      val tests = lake.tests.filter(mine).count()
      val stats = tables.map(t =>
        Workload.dirStats(s"$wh/$t/data_set_id=$dataSet"))
      written += ((stats.map(_._1).sum, stats.map(_._2).sum))
      val err =
        if (back != obs) Some(s"read-back rows $back != regrouped $obs")
        else if (code != plan.map(_.impls).sum)
          Some(s"code rows $code != implementations ${plan.map(_.impls).sum}")
        else if (tests != plan.map(_.tests).sum)
          Some(s"test rows $tests != tests ${plan.map(_.tests).sum}")
        else None
      Checked(back, err.map(e => s"$dataSet: $e"))
    }
  }

  /** Drop the operation's data set and the snapshots it committed. */
  override def reset(ctx: Ctx): Unit = tables.foreach { t =>
    Workload.deleteTree(s"$wh/$t/data_set_id=$ds")
    val manifests = new java.io.File(s"$wh/$t/_manifests")
    Option(manifests.listFiles()).getOrElse(Array.empty).foreach { f =>
      val v = f.getName.stripPrefix("v").takeWhile(_.isDigit)
      if (v.nonEmpty && v.toInt > baseVersion(t)) f.delete()
    }
  }

  private def obsRows = plan.map(_.observations).sum

  def inputs(ctx: Ctx): Map[String, Any] = Map(
    "problems" -> plan.size, "observation_rows" -> obsRows,
    "export_bytes" -> exportBytes,
    "warehouse_bytes" -> Workload.dirStats(wh)._1)

  private def meanWritten: (Double, Double) =
    if (written.isEmpty) (0.0, 0.0)
    else (written.map(_._1).sum.toDouble / written.size,
      written.map(_._2).sum.toDouble / written.size)

  override def layerFacts(ctx: Ctx): Map[String, Double] = {
    val (bytes, files) = meanWritten
    Map("lake.files_written" -> files, "lake.bytes_written" -> bytes,
      "lake.write_amp" -> bytes / math.max(1L, exportBytes))
  }

  def domain(ctx: Ctx, ms: Map[String, Seq[Double]]): Map[String, Any] = {
    val xs = ms.getOrElse("ingest", Nil)
    Map("ingest_obs_per_s" -> obsRows / (Stats.median(xs) / 1000.0),
      "stored_bytes_per_obs" -> meanWritten._1 / math.max(1L, obsRows),
      "ingest_p50_ms" -> Stats.median(xs), "ingest_n" -> xs.size)
  }
}
