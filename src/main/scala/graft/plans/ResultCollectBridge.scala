// This file is compiled into a subpackage of org.apache.spark.sql ON
// PURPOSE, for four reasons: `SparkPlan.executeCollectIterator` (what a
// `BroadcastExchangeExec` calls on its child) and `CompressionCodec`'s
// factory are private[spark]; so is everything a task is set up with
// (`TaskContextImpl`, `TaskContext.setTaskContext`, `TaskMemoryManager`,
// the block manager's task registry), which the driver run below sets up
// itself; and Spark names a job after the first stack frame outside its
// own packages, so a collect whose frames sat in `graft.plans` would name
// every result job after this file instead of the caller's
// `collect at ...` line. Only the collect plumbing lives here; the node
// and its placement rule are [[graft.plans.ResultCollectExec]].
package org.apache.spark.sql.graftbridge

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.{NarrowDependency, SparkEnv, TaskContext,
  TaskContextImpl}
import org.apache.spark.internal.Logging
import org.apache.spark.io.CompressionCodec
import org.apache.spark.memory.{SparkOutOfMemoryError, TaskMemoryManager}
import org.apache.spark.rdd.{InputFileBlockHolder, RDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder,
  UnsafeRow}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan,
  UnaryExecNode}
import org.apache.spark.util.{AccumulatorContext, AccumulatorV2, Utils}

/** The runtime of [[graft.plans.ResultCollectExec]]: a pass-through node
  * whose collect is either a [[DriverRun]] on the calling thread, when
  * the gate admits it, or one `runJob` with [[EncodePartition]] as the
  * job function. A plain named class is not a closure, so Spark's closure
  * cleaner returns at once. */
abstract class ResultCollectBase extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  // transparent, as WholeStageCodegenExec is: a wrapped plan is the same
  // result (and the same reusable exchange) as the unwrapped one
  override protected def doCanonicalize(): SparkPlan = child.canonicalized

  /** The attempt id and the leaked bytes freed at the end of this node's
    * latest driver run that returned rows. */
  @transient @volatile protected var lastDriverRun: Option[(Long, Long)] =
    None

  /** Whether the collect of `rdd` (this node's `execute()`) runs on the
    * calling thread: [[DriverRun.admits]]. */
  protected def runsOnDriver(rdd: RDD[InternalRow]): Boolean =
    DriverRun.admits(child, rdd)

  override private[spark] def executeCollectIterator()
      : (Long, Iterator[InternalRow]) = {
    val rdd = execute()
    val onDriver =
      if (runsOnDriver(rdd)) DriverRun.collect(rdd) else None
    onDriver match {
      case Some(run) =>
        lastDriverRun = Some((run.attempt, run.leakedBytes))
        (run.rows.length.toLong, run.rows.iterator)
      case None =>
        val parts = sparkContext.runJob(rdd, new EncodePartition,
          0 until rdd.getNumPartitions)
        val width = output.length
        (parts.iterator.map(_._1).sum,
          parts.iterator.flatMap(p => EncodePartition.decode(p._2, width)))
    }
  }

  override def executeCollect(): Array[InternalRow] =
    executeCollectIterator()._2.toArray
}

/** A one-partition collect computed on the calling thread, with no Spark
  * job: no DAG scheduling, task binary broadcast, task (de)serialization
  * or executor hand-off, which were most of a per-problem query's job
  * time. The run is set up as an executor sets up a task: its own copy
  * of the lineage (serialized and deserialized as a task binary is); a
  * `TaskContextImpl` under its own negative attempt id, registered with
  * the block manager (broadcast reads take locks under it), with its own
  * `TaskMemoryManager` and the caller's local properties (so SQL confs
  * reach the run as they reach a task); completion listeners run; locks
  * and execution memory are released, the thread's previous
  * `TaskContext` and input file are put back, and the copy's SQL metric
  * updates are merged into the plan's as the scheduler merges a
  * successful task's.
  *
  * The run is not a job: job-group cancellation cannot stop it, no
  * listener sees a job, stage or task, and the UI's job list does not
  * show it. The gate bounds it by the bytes of the files it reads. */
object DriverRun extends Logging {

  /** What a run returned: its rows (copied), its attempt id and the bytes
    * `cleanUpAllAllocatedMemory` freed after it, which a task that frees
    * what it allocates leaves at 0. */
  final case class Done(rows: Array[InternalRow], attempt: Long,
      leakedBytes: Long)

  // Decreasing from below the block manager's own lock owners (-1 is "no
  // writer", -1024 the non-task writer), so no run shares an id with
  // them, a task or another run.
  private val attempts = new AtomicLong(-1024L)

  /** The gate: the collect of `rdd`, the executed `plan`, is a small local
    * read. All of: a local master (the executor is this JVM); one
    * partition; only narrow dependencies in the lineage (nothing to wait
    * for from another stage); every leaf of `plan` a file scan; and the
    * scans' selected files at most `spark.sql.autoBroadcastJoinThreshold`
    * bytes, what Spark already brings to the driver for a broadcast
    * (`-1` turns the driver run off). */
  def admits(plan: SparkPlan, rdd: RDD[_]): Boolean = {
    val limit = plan.conf.autoBroadcastJoinThreshold
    limit >= 0 && rdd.sparkContext.isLocal && rdd.getNumPartitions == 1 &&
      narrow(rdd) && {
        val leaves = plan.collectLeaves()
        leaves.forall(_.isInstanceOf[FileSourceScanExec]) &&
          leaves.iterator.map(_.asInstanceOf[FileSourceScanExec]
            .selectedPartitions.totalFileSize).sum <= limit
      }
  }

  private def narrow(rdd: RDD[_]): Boolean = rdd.dependencies.forall {
    case d: NarrowDependency[_] => narrow(d.rdd)
    case _ => false
  }

  /** The rows of `rdd`'s one partition, computed on this thread. `None`
    * when the run threw anything non-fatal other than an interrupt: its
    * rows and metric updates are dropped, as Spark drops a failed task
    * attempt's, for the caller to run the job, whose failure (if it fails
    * too) is then the one the caller sees. */
  def collect(rdd: RDD[InternalRow]): Option[Done] = {
    require(rdd.getNumPartitions == 1, s"a driver run computes one " +
      s"partition, not ${rdd.getNumPartitions}")
    try Some(run(rdd))
    catch {
      // a task's memory running out fails the task, not the executor
      case e @ (NonFatal(_) | _: SparkOutOfMemoryError)
          if !Thread.currentThread().isInterrupted =>
        logDebug("driver run failed; running the job instead", e)
        None
    }
  }

  private def run(rdd: RDD[InternalRow]): Done = {
    val env = SparkEnv.get
    val serializer = env.closureSerializer.newInstance()
    val binary = serializer.serialize(rdd)
    val attempt = attempts.decrementAndGet()
    val memory = new TaskMemoryManager(env.memoryManager, attempt)
    val ctx = new TaskContextImpl(stageId = 0, stageAttemptNumber = 0,
      partitionId = 0, taskAttemptId = attempt, attemptNumber = 0,
      numPartitions = 1, taskMemoryManager = memory,
      localProperties = Utils.cloneProperties(
        rdd.sparkContext.getLocalProperties),
      metricsSystem = env.metricsSystem)
    val previous = TaskContext.get()
    val previousFile = InputFileBlockHolder.getThreadLocalValue()
    env.blockManager.registerTask(attempt)
    TaskContext.setTaskContext(ctx)
    InputFileBlockHolder.initialize()
    var leaked = 0L
    val rows = try {
      // as TaskContext.runTaskWithListeners runs a task
      val out = try {
        // the run's own copy of the lineage, as a task deserializes its
        // binary: state the run sets on plan nodes (a sort keeps its
        // sorter) lands on the copy, not on the driver's plan, and the
        // copy's SQL metrics start at 0 and register with the run
        val task = serializer.deserialize[RDD[InternalRow]](binary,
          Thread.currentThread().getContextClassLoader)
        val buf = ArrayBuffer.empty[InternalRow]
        val it = task.iterator(rdd.partitions.head, ctx)
        while (it.hasNext) buf += it.next().asInstanceOf[UnsafeRow].copy()
        buf.toArray
      } catch {
        case t: Throwable =>
          try ctx.markTaskFailed(t)
          catch { case s: Throwable => t.addSuppressed(s) }
          ctx.markTaskCompleted(Some(t))
          throw t
      }
      ctx.markTaskCompleted(None)
      out
    } finally {
      TaskContext.setTaskContext(previous)
      InputFileBlockHolder.setThreadLocalValue(previousFile)
      leaked = memory.cleanUpAllAllocatedMemory()
      val locks = env.blockManager.releaseAllLocksForTask(attempt)
      if (leaked != 0 || locks.nonEmpty)
        logWarning(s"driver run $attempt left $leaked bytes of managed " +
          s"memory and ${locks.size} block locks (${locks.mkString(", ")})")
    }
    // as the scheduler merges a successful task's updates
    ctx.taskMetrics.withExternalAccums(_.toList).foreach { update =>
      AccumulatorContext.get(update.id).foreach(_
        .asInstanceOf[AccumulatorV2[Any, Any]]
        .merge(update.asInstanceOf[AccumulatorV2[Any, Any]]))
    }
    Done(rows, attempt, leaked)
  }
}

/** The result job's function: a partition's row count and its rows as one
  * byte array, each row's size then its `UnsafeRow` bytes, ended by -1,
  * all through the session's `CompressionCodec` (the encoding of Spark's
  * private `SparkPlan.getByteArrayRdd`). */
final class EncodePartition
    extends ((TaskContext, Iterator[InternalRow]) => (Long, Array[Byte]))
    with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[InternalRow])
      : (Long, Array[Byte]) = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(CompressionCodec
      .createCodec(SparkEnv.get.conf).compressedOutputStream(bytes))
    val buffer = new Array[Byte](4 << 10)
    var count = 0L
    while (rows.hasNext) {
      val row = rows.next().asInstanceOf[UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, buffer)
      count += 1
    }
    out.writeInt(-1)
    out.close()
    (count, bytes.toByteArray)
  }
}

object EncodePartition {
  /** The rows of one encoded partition, `width` fields each, in order. */
  def decode(bytes: Array[Byte], width: Int): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val in = new DataInputStream(CompressionCodec
        .createCodec(SparkEnv.get.conf)
        .compressedInputStream(new ByteArrayInputStream(bytes)))
      private var nextSize = readSize()
      private def readSize(): Int = {
        val n = in.readInt()
        if (n < 0) in.close()
        n
      }
      def hasNext: Boolean = nextSize >= 0
      def next(): InternalRow = {
        val bs = new Array[Byte](nextSize)
        in.readFully(bs)
        val row = new UnsafeRow(width)
        row.pointTo(bs, bs.length)
        nextSize = readSize()
        row
      }
    }
}
