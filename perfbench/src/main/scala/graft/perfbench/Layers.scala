package graft.perfbench

import scala.collection.immutable.ListMap

/** Per-layer metrics of a traced run: means per timed operation, taken
  * from the benchmark's spans around its calls into the library, from its
  * Spark listener, and from Spark's codegen counters. Every workload
  * reports every name; a layer a workload does not exercise reads 0. A
  * span layer that only runs in set-up (the ingest pipeline that builds
  * the `interactive` lake) reports its mean per set-up repetition. */
object Layers {

  /** Metric name → span name whose self time it reports. */
  private val SpanLayers = Seq(
    "ingest.read_ms" -> "ingest.read",
    "queries.build_ms" -> "queries.build",
    "testqueries.build_ms" -> "testqueries.build",
    "ingest.cluster_ms" -> "ingest.cluster",
    "ingest.regroup_build_ms" -> "ingest.regroup_build",
    "lake.append_ms.observations" -> "lake.append.observations",
    "lake.append_ms.code_implementations" ->
      "lake.append.code_implementations",
    "lake.append_ms.tests" -> "lake.append.tests",
    "lake.readback_ms" -> "lake.readback",
    "catalyst.plan_ms" -> "catalyst.plan",
    "spark.exec_ms" -> "spark.exec",
    "trace.unattributed_ms" -> "op")

  /** Facts a workload supplies itself (0 when it has none). */
  val FactLayers: Seq[(String, String)] = Seq(
    "lake.files_written" -> "count", "lake.bytes_written" -> "bytes",
    "lake.write_amp" -> "ratio")

  def compute(ops: Seq[Main.Op], tracer: Tracer, activity: Activity,
      facts: Map[String, Double], setupSelf: Seq[Map[String, Double]])
      : ListMap[String, (Double, String)] = {
    val n = math.max(1, ops.size).toDouble
    val ids = ops.map(_.id).toSet
    val spans = tracer.spans.filter(s => ids(s.op)).groupBy(_.op)
    val self = ops.map(o => tracer.selfMs(spans.getOrElse(o.id, Nil)))
    def selfMean(span: String) = {
      val inOps = self.map(_.getOrElse(span, 0.0)).sum / n
      if (inOps > 0 || setupSelf.isEmpty || span == "op") inOps
      else setupSelf.map(_.getOrElse(span, 0.0)).sum / setupSelf.size
    }
    val acts = ops.map(o => o -> activity.get(o.id))
    def actMean(f: OpActivity => Double) = acts.map(a => f(a._2)).sum / n
    /** Jobs started inside spans called `name`, per operation. */
    def jobsIn(name: String) = acts.map { case (o, a) =>
      val in = spans.getOrElse(o.id, Nil).filter(_.name == name)
      a.jobSpans.count { case (s, _) =>
        in.exists(sp => s >= sp.startMs && s <= sp.endMs)
      }.toDouble
    }.sum / n
    val wall = ops.map(_.wallMs).sum
    val selfSum = self.map(_.values.sum).sum
    val rowsOut = ops.map(_.rows).sum
    val rowsIn = acts.map(_._2.inputRecords).sum

    val fromSpans = SpanLayers.map { case (m, s) => m -> (selfMean(s), "ms") }
    ListMap(fromSpans: _*) ++ ListMap(
      "testqueries.build_jobs" -> (jobsIn("testqueries.build"), "count"),
      "codegen.compiles" -> (ops.map(_.compiles).sum / n, "count"),
      "codegen.compile_ms" -> (ops.map(_.compileMs).sum / n, "ms"),
      "spark.jobs_per_op" -> (actMean(_.jobs.toDouble), "count"),
      "spark.stages_per_op" -> (actMean(_.stages.toDouble), "count"),
      "spark.tasks_per_op" -> (actMean(_.tasks.toDouble), "count"),
      "spark.task_run_ms" -> (actMean(_.runMs.toDouble), "ms"),
      "spark.driver_idle_ms" -> (acts.map { case (o, a) =>
        math.max(0.0, o.wallMs - a.busyMs(o.startMs, o.endMs))
      }.sum / n, "ms"),
      "spark.gc_ms" -> (actMean(_.gcMs.toDouble), "ms"),
      "spark.shuffle_write_bytes" -> (actMean(_.shuffleWriteBytes.toDouble), "bytes"),
      "spark.spill_bytes" -> (actMean(_.spillBytes.toDouble), "bytes"),
      "spark.task_skew" -> (actMean(_.skew), "ratio"),
      "scan.bytes_read_per_op" -> (actMean(_.inputBytes.toDouble), "bytes"),
      "scan.rows_read_per_row_returned" ->
        (rowsIn.toDouble / math.max(1L, rowsOut), "ratio"),
      "trace.accounted_share" ->
        (if (wall > 0) selfSum / wall else 0.0, "ratio")) ++
      FactLayers.map { case (m, u) => m -> (facts.getOrElse(m, 0.0), u) }
  }
}
