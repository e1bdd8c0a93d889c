package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** A timed region of one operation. `parent` is -1 for an operation's
  * root span. Times are taken twice: `System.nanoTime` for durations and
  * wall-clock milliseconds to line spans up with Spark's job events. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, parent, op, t0, System.nanoTime(), m0,
          System.currentTimeMillis())
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Self time (span minus its children) summed per span name, for the
    * spans of one operation. */
  def selfMs(opSpans: Seq[Span]): Map[String, Double] = {
    val childMs = opSpans.groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.ms).sum }
    opSpans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }
}

/** Spark activity of one operation, gathered by [[Activity]]. */
final class OpActivity {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  /** (start, end) wall-clock ms of each job. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Task durations per stage, for the skew ratio. */
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Max over median task time in the stage with the most task time;
    * 1.0 when the operation ran no tasks. */
  def skew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val ts = taskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.size / 2)
      ts.last.toDouble / math.max(1L, med)
    }

  /** Milliseconds of [from, to] covered by at least one job. */
  def busyMs(from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    jobSpans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) {
          covered += e - math.max(s, reach)
          reach = e
        }
      }
    covered
  }
}

/** The benchmark's own listener. Jobs are attributed to operations by the
  * job group the benchmark sets around each operation (`op<N>`). */
final class Activity extends SparkListener {
  private val byOp = mutable.Map.empty[Int, OpActivity]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobOp = mutable.Map.empty[Int, (Int, Long)]

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op")).map(_.drop(2).toInt)

  def get(op: Int): OpActivity = synchronized {
    byOp.getOrElse(op, new OpActivity)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      byOp.getOrElseUpdate(op, new OpActivity).jobs += 1
      jobOp(e.jobId) = (op, e.time)
      e.stageIds.foreach(s => stageOp(s) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { case (op, start) =>
      byOp(op).jobSpans += ((start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageOp.get(e.stageInfo.stageId).foreach { op =>
        val a = byOp(op)
        a.stages += 1
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
          a.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val a = byOp(op)
      a.tasks += 1
      a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }
}
