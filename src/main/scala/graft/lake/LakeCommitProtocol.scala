package graft.lake

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** Spark's default file commit protocol, plus the list of files a write
  * committed. [[graft.GraftSession]] binds it for every file write
  * (`spark.sql.sources.commitProtocolClass`). Each task records the
  * files it opens, relative to the write's output directory, and hands
  * them to the driver in its commit message, so a failed or retried
  * attempt's files never reach the list. A write whose options carry
  * [[LakeCommitProtocol.WriteId]] publishes the list under that id once
  * the job has committed; [[Lakehouse]] takes it after the write
  * returns, and that list, not a directory listing, is what its commit
  * records. The list is keyed by the id, not held per thread: with AQE
  * on, `commitJob` runs on a query-stage pool thread, not the writer's.
  * Any other write behaves exactly as under the default protocol. */
final class LakeCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path,
      dynamicPartitionOverwrite) {
  import LakeCommitProtocol._

  @transient private var written: List[String] = Nil

  override def setupTask(ctx: TaskAttemptContext): Unit = {
    super.setupTask(ctx)
    written = Nil
  }

  override def newTaskTempFile(ctx: TaskAttemptContext, dir: Option[String],
      spec: FileNameSpec): String = {
    val f = super.newTaskTempFile(ctx, dir, spec)
    written ::= dir.fold("")(_ + "/") + new Path(f).getName
    f
  }

  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage =
    new Committed(super.commitTask(ctx).obj, written)

  override def commitJob(job: JobContext,
      commits: Seq[TaskCommitMessage]): Unit = {
    super.commitJob(job, commits)
    Option(job.getConfiguration.get(WriteId)).foreach(published.put(_,
      commits.flatMap { case c: Committed => c.files; case _ => Nil }))
  }
}

object LakeCommitProtocol {

  /** The write option naming a write whose committed files are kept. */
  val WriteId = "graft.lake.writeId"

  /** A task's commit message, as the default protocol builds it, plus
    * the files the task wrote. */
  private final class Committed(obj: Any, val files: List[String])
      extends TaskCommitMessage(obj)

  private val published = new ConcurrentHashMap[String, Seq[String]]()

  /** The files the write `id` committed, removed from the registry;
    * None if no write under this protocol published that id. */
  def take(id: String): Option[Seq[String]] = Option(published.remove(id))
}
