package graft.perfbench

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The benchmark's entry point (see perfbench/README.md).
  *
  * {{{
  * Main --workload interactive|ingest|batch --seed N --seconds S
  *      --trace 0|1 --work DIR --out FILE [--pins FILE] [--tiny]
  *      [--corrupt] [--dump DIR]
  * }}}
  * Prints one JSON result line last on stdout and writes the full
  * artifact (stamps, per-kind breakdown, spans, failures) to `--out`. */
object Main {

  /** Setup repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  /** Reference timings before and after each set-up repetition (see
    * Calibrate). */
  val SetupRefSamples = 3
  /** One operation as the run loop saw it. */
  final case class Op(id: Int, kind: String, measured: Boolean,
      wallMs: Double, startMs: Long, endMs: Long, rows: Long,
      error: Option[String], compiles: Long, compileMs: Double)

  def batchConf(spark: SparkSession): Map[String, String] = {
    val n = spark.sparkContext.defaultParallelism
    Map("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        (8 * n).toString)
  }

  /** Run `body` with runtime SQL confs set, restoring them after. */
  def withConf[T](spark: SparkSession, conf: Map[String, String])(
      body: => T): T = {
    val old = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    root.map(t => s"${t.getClass.getName}: ${t.getMessage}").distinct
      .mkString(" <- ").take(2000)
  }

  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  private def phase(name: String): Unit = System.err.println(
    f"[perfbench] $name at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val w = Workload.byName(workload)
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val master = s"local[$cores]"
    val spark =
      if (workload == "interactive") graft.GraftSession.interactive(master)
      else graft.GraftSession.batch(master, cores)
    spark.sparkContext.setLogLevel("WARN")
    phase("session up")
    val activity = new Activity
    if (traced) spark.sparkContext.addSparkListener(activity)
    val ctx = Ctx(spark, opt("work"), seed, opts.contains("tiny"),
      opts.contains("corrupt"), new Tracer(traced),
      opts.get("pins").map(readPins).getOrElse(Map.empty), opts.get("dump"))

    Calibrate.warm()
    val setupRefMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    def refs(): Unit =
      setupRefMs ++= (0 until SetupRefSamples).map(_ => Calibrate.once())
    val setupS = (0 until SetupReps).map { rep =>
      System.gc()
      ctx.tracer.op = -1 - rep
      refs()
      val t0 = System.nanoTime()
      ctx.tracer.span("setup")(w.setup(ctx, rep))
      val s = (System.nanoTime() - t0) / 1e9
      refs()
      s
    }

    phase("setup done")
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val failures = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def fail(op: Int, kind: String, phase: String, msg: String): Unit = {
      System.err.println(s"[perfbench] op $op $kind $phase failed: $msg")
      failures += ListMap("op" -> op, "kind" -> kind, "phase" -> phase,
        "error" -> msg)
    }
    val sc = spark.sparkContext
    // reference time just after each timed operation, by operation id
    val refMs = scala.collection.mutable.Map.empty[Int, Double]
    def runOp(kind: String, measured: Boolean): Unit = {
      val id = ops.size
      ctx.tracer.op = id
      if (w.gcBeforeOp) System.gc()
      sc.setJobGroup(s"op$id", kind, interruptOnCancel = false)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ct0 = CodeGenerator.compileTime
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val outcome =
        try Right(ctx.tracer.span("op")(w.run(ctx, kind)))
        catch { case NonFatal(e) => Left(describe(e)) }
      val t1 = System.nanoTime()
      val m1 = System.currentTimeMillis()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      val compileMs = (CodeGenerator.compileTime - ct0) / 1e6
      sc.clearJobGroup()
      if (measured) refMs(id) = Calibrate.once()
      val checked = outcome match {
        case Left(msg) => fail(id, kind, "run", msg); Checked(0, Some(msg))
        case Right(check) =>
          try {
            val c = check()
            c.error.foreach(fail(id, kind, "check", _))
            c
          } catch {
            case NonFatal(e) =>
              fail(id, kind, "check", describe(e))
              Checked(0, Some(describe(e)))
          }
      }
      try w.reset(ctx)
      catch { case NonFatal(e) => fail(id, kind, "reset", describe(e)) }
      ops += Op(id, kind, measured, (t1 - t0) / 1e6, m0, m1, checked.rows,
        checked.error, compiles, compileMs)
    }

    val rnd = new scala.util.Random(seed)
    w.warm(ctx).foreach(runOp(_, measured = false))
    (0 until w.warmRounds(ctx)).foreach(_ =>
      w.round(ctx, rnd).foreach(runOp(_, measured = false)))
    phase("warm-up done")
    w.beginTimed()
    val start = System.nanoTime()
    var rounds = 0
    do {
      w.round(ctx, rnd).foreach(runOp(_, measured = true))
      rounds += 1
    } while ((System.nanoTime() - start) / 1e9 < seconds || !w.cycleDone ||
      rounds < w.minTimedRounds(ctx))

    phase("measured")
    val timed = ops.filter(_.measured).toSeq
    val msByKind = w.kinds.map(k =>
      k -> timed.filter(_.kind == k).map(_.wallMs)).toMap
    val passMs = w.kinds.map(k => Stats.median(msByKind(k))).sum
    val failed = ops.count(_.error.isDefined)
    // times scaled by the host's speed while they were taken (see Calibrate)
    val timedRefMs = Stats.median(timed.map(o => refMs(o.id)))
    val setupRef = Stats.median(setupRefMs.toSeq)
    val scaledPassMs = passMs * Calibrate.NominalMs / timedRefMs
    val scaledSetupS = Stats.median(setupS) * Calibrate.NominalMs / setupRef

    val endToEnd = ListMap(
      "setup_s" -> (scaledSetupS, "s"),
      "pass_ms" -> (scaledPassMs, "ms"))
    val setupSelf = (0 until SetupReps).map(rep => ctx.tracer.selfMs(
      ctx.tracer.spans.filter(_.op == -1 - rep)))
    val layers =
      if (!traced) ListMap.empty[String, (Double, String)]
      else {
        org.apache.spark.perfbench.Bus.drain(sc)
        Layers.compute(timed, ctx.tracer, activity, w.layerFacts(ctx),
          setupSelf)
      }
    val perKind =
      if (!traced) Map.empty[String, Any]
      else w.kinds.map(k => k -> Layers.compute(timed.filter(_.kind == k),
        ctx.tracer, activity, Map.empty, Nil)
        .map { case (n, (v, _)) => n -> v }).toMap

    def metrics(m: ListMap[String, (Double, String)]) =
      m.map { case (n, (v, u)) => n -> ListMap("value" -> v, "unit" -> u) }
    val printed = if (traced) layers else endToEnd
    val result = ListMap(
      "correct" -> (failed == 0 && timed.nonEmpty),
      "attempted" -> ops.size, "failed" -> failed,
      "metrics" -> metrics(printed))

    val rt = Runtime.getRuntime
    val artifact = ListMap(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "tiny" -> ctx.tiny, "corrupt" -> ctx.corrupt,
      "stamp" -> ListMap(
        "host" -> java.net.InetAddress.getLocalHost.getHostName,
        "nproc" -> rt.availableProcessors, "master" -> sc.master,
        "default_parallelism" -> sc.defaultParallelism,
        "spark_version" -> spark.version,
        "jvm" -> (System.getProperty("java.vm.name") + " " +
          System.getProperty("java.runtime.version")),
        "heap_max_bytes" -> rt.maxMemory,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "adaptive" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "started_at" -> java.time.Instant.now().toString),
      "inputs" -> w.inputs(ctx),
      "setup_s_reps" -> setupS,
      "unscaled" -> ListMap("setup_s" -> Stats.median(setupS),
        "pass_ms" -> passMs, "nominal_ref_ms" -> Calibrate.NominalMs,
        "setup_ref_ms" -> setupRef, "timed_ref_ms" -> timedRefMs),
      "setup_self_ms" -> setupSelf,
      "end_to_end" -> metrics(endToEnd),
      "domain" -> (w.domain(ctx, msByKind) ++ Map(
        "ops_per_s" -> timed.size / (timed.map(_.wallMs).sum / 1000.0),
        "failed_op_share" -> failed.toDouble / math.max(1, ops.size))),
      "per_layer" -> metrics(layers),
      "per_kind" -> perKind,
      "ops" -> ops.map(o => ListMap("id" -> o.id, "kind" -> o.kind,
        "measured" -> o.measured, "wall_ms" -> o.wallMs, "rows" -> o.rows,
        "ok" -> o.error.isEmpty, "ref_ms" -> refMs.get(o.id))),
      "failures" -> failures,
      "spans" -> ctx.tracer.spans.map(s => Seq(s.id, s.name, s.parent, s.op,
        s.startMs, s.ms)),
      "result" -> result)
    opts.get("out").foreach { out =>
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (Json(artifact) + "\n").getBytes("UTF-8"))
    }
    spark.stop()
    phase("stopped")
    println(Json(result))
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val flags = Set("tiny", "corrupt")
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case k :: tail if k.startsWith("--") && flags(k.drop(2)) =>
          go(tail, acc + (k.drop(2) -> "1"))
        case k :: v :: tail if k.startsWith("--") => go(tail, acc + (k.drop(2) -> v))
        case other => throw new IllegalArgumentException(
          s"bad arguments near: ${other.mkString(" ")}")
      }
    go(args.toList, Map.empty)
  }

  /** Pinned batch results: `<size>/<query> <rows> <hash>` per line. */
  private def readPins(path: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(k, r, h) = l.split("\\s+")
        k -> (r.toLong, h)
      }.toMap
    finally src.close()
  }
}
