package graft.perfbench

import org.apache.spark.sql.SparkSession

/** What one run of the benchmark is given. */
final case class Ctx(spark: SparkSession, work: String, seed: Long,
    tiny: Boolean, corrupt: Boolean, tracer: Tracer,
    pins: Map[String, (Long, String)], dump: Option[String])

/** The outcome of one operation's output check: `None` when correct. */
final case class Checked(rows: Long, error: Option[String])

/** A closed-loop workload. `setup` is run several times (each into fresh
  * directories; the last one is measured against), then the `warm`
  * operations once, then `warmRounds` untimed rounds, then timed
  * rounds until the run's time is up, `cycleDone` holds and at least
  * `minTimedRounds` have run. */
trait Workload {
  /** Build the workload's inputs; repetition `rep` of the setup. */
  def setup(ctx: Ctx, rep: Int): Unit

  /** Operation kinds, in the order their metrics are reported. */
  def kinds: Seq[String]

  /** Untimed first round: runs every kind once and checks it. */
  def warm(ctx: Ctx): Seq[String] = kinds

  /** Untimed rounds after `warm`, so the timed rounds start with the JIT
    * warm. A count, not a time: a slow host then still warms as far. */
  def warmRounds(ctx: Ctx): Int = 0

  /** The kinds of the next closed-loop round, in run order. */
  def round(ctx: Ctx, rnd: scala.util.Random): Seq[String]

  /** Whether the timed rounds so far complete a cycle over the inputs; the
    * run measures whole cycles, so every run sees the same input mix. */
  def cycleDone: Boolean = true

  /** Timed rounds a run makes however slow the host, so that each kind's
    * median has at least this many samples. */
  def minTimedRounds(ctx: Ctx): Int = 1

  /** Whether to collect garbage before each operation (outside its timed
    * region), so one operation's garbage does not slow the next. */
  def gcBeforeOp: Boolean = false

  /** Called once between the warm-up and the first timed round. */
  def beginTimed(): Unit = ()

  /** Run one operation of `kind`. Returns a thunk that checks the
    * operation's output; the thunk runs outside the timed region. */
  def run(ctx: Ctx, kind: String): () => Checked

  /** Undo what an operation changed, outside the timed region. */
  def reset(ctx: Ctx): Unit = ()

  /** Facts about the inputs, stamped into the artifact. */
  def inputs(ctx: Ctx): Map[String, Any]

  /** Extra per-operation observations for the traced layers, by name. */
  def layerFacts(ctx: Ctx): Map[String, Double] = Map.empty

  /** The workload's domain metrics (artifact only), given per-kind
    * operation times in ms. */
  def domain(ctx: Ctx, msByKind: Map[String, Seq[Double]]): Map[String, Any]
}

object Workload {
  def byName(name: String): Workload = name match {
    case "interactive" => new Interactive
    case "ingest" => new Ingest
    case "batch" => new Batch
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (interactive, ingest, batch)")
  }

  /** Sum of regular-file sizes and count of data files (names not
    * starting with `_` or `.`) under `dir`. */
  def dirStats(dir: String): (Long, Int) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0L, 0)
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        var bytes = 0L
        var files = 0
        s.filter(p => java.nio.file.Files.isRegularFile(p)).forEach { p =>
          val n = p.getFileName.toString
          if (!n.startsWith("_") && !n.startsWith(".")) {
            bytes += java.nio.file.Files.size(p)
            files += 1
          }
        }
        (bytes, files)
      } finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }
}
