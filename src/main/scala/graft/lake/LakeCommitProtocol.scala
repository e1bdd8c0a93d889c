package graft.lake

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage

/** The engine's file commit protocol: every file is written once, under
  * its final name, and nothing is staged or moved. [[graft.GraftSession]]
  * binds it for every file write (`spark.sql.sources.commitProtocolClass`),
  * lake or not.
  *
  * A task writes its files straight into the output directory (or the
  * partition directory below it), named
  * `part-<split>-<jobId>-<attempt><suffix>`: the attempt number keeps a
  * retried task from reusing a name, and the suffix Spark asks for is
  * kept whole, since bucket ids are parsed from it. Task commit moves
  * nothing; it hands the driver the files the attempt wrote, relative to
  * the output directory, in its commit message. A task abort deletes its
  * own files, and a job abort the files of every task that committed, so
  * a failed or retried attempt's files never reach the list. There is no
  * `_temporary` directory and no `_SUCCESS` marker: a lake table's commit
  * is its manifest, and what a write made visible is the list.
  *
  * A write whose options carry [[LakeCommitProtocol.WriteId]] publishes
  * the list under that id once the job has committed; [[Lakehouse]] takes
  * it after the write returns, and that list, not a directory listing, is
  * what its commit records. The list is keyed by the id, not held per
  * thread: with AQE on, `commitJob` runs on a query-stage pool thread,
  * not the writer's. Dynamic partition overwrite, which would delete
  * partitions the write replaces, is refused. */
final class LakeCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends FileCommitProtocol with Serializable {
  import LakeCommitProtocol._

  require(!dynamicPartitionOverwrite, "graft.lake.LakeCommitProtocol " +
    "writes files in place and has no dynamic partition overwrite")

  /** The files the running task attempt wrote. */
  @transient private var written: List[String] = Nil

  /** On the driver: the files of every task that committed. */
  @transient private lazy val committed = new ConcurrentLinkedQueue[String]()

  private def name(ctx: TaskAttemptContext, spec: FileNameSpec): String = {
    val attempt = ctx.getTaskAttemptID
    f"${spec.prefix}part-${attempt.getTaskID.getId}%05d-$jobId-" +
      s"${attempt.getId}${spec.suffix}"
  }

  /** Delete `files`, each relative to the output directory or absolute. */
  private def delete(conf: Configuration, files: Iterable[String]): Unit =
    files.foreach { f =>
      val p = new Path(new Path(path), f)
      p.getFileSystem(conf).delete(p, false)
    }

  override def setupJob(job: JobContext): Unit = {
    val out = new Path(path)
    out.getFileSystem(job.getConfiguration).mkdirs(out)
  }

  override def setupTask(ctx: TaskAttemptContext): Unit = written = Nil

  override def newTaskTempFile(ctx: TaskAttemptContext, dir: Option[String],
      spec: FileNameSpec): String = {
    val rel = dir.fold("")(_ + "/") + name(ctx, spec)
    written ::= rel
    new Path(new Path(path), rel).toString
  }

  override def newTaskTempFileAbsPath(ctx: TaskAttemptContext,
      absoluteDir: String, spec: FileNameSpec): String = {
    val f = new Path(absoluteDir, name(ctx, spec)).toString
    written ::= f
    f
  }

  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage =
    new TaskCommitMessage(written)

  override def abortTask(ctx: TaskAttemptContext): Unit =
    delete(ctx.getConfiguration, written)

  override def onTaskCommit(msg: TaskCommitMessage): Unit =
    committed.addAll(filesOf(msg).asJava)

  override def commitJob(job: JobContext,
      commits: Seq[TaskCommitMessage]): Unit =
    Option(job.getConfiguration.get(WriteId)).foreach(published.put(_,
      commits.flatMap(filesOf)))

  override def abortJob(job: JobContext): Unit =
    delete(job.getConfiguration, committed.asScala)
}

object LakeCommitProtocol {

  /** The write option naming a write whose committed files are kept. */
  val WriteId = "graft.lake.writeId"

  private def filesOf(msg: TaskCommitMessage): List[String] =
    msg.obj.asInstanceOf[List[String]]

  private val published = new ConcurrentHashMap[String, Seq[String]]()

  /** The files the write `id` committed, removed from the registry;
    * None if no write under this protocol published that id. */
  def take(id: String): Option[Seq[String]] = Option(published.remove(id))
}
