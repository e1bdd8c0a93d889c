package graft

import java.io.File
import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext, TaskAttemptID,
  TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._
import graft.lake.{LakeCommitProtocol, Lakehouse}
import graft.schema.Schemas
import LakeFiles.{onDisk, parquetOnDisk, staged}

/** [[graft.lake.LakeCommitProtocol]] driven directly, as Spark's writer
  * drives it, with two attempts of one task: files are written under
  * their final names, an aborted attempt's files are deleted, and the
  * job publishes the committed attempts' files only. */
class LakeCommitProtocolSpec extends SparkSpec {
  private val spec = FileNameSpec("", "-c000.snappy.parquet")

  /** A job whose files are published under `id`. */
  private def job(id: String): Job = {
    val j = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    j.getConfiguration.set(LakeCommitProtocol.WriteId, id)
    j
  }

  private def attempt(j: Job, task: Int, attempt: Int): TaskAttemptContext =
    new TaskAttemptContextImpl(j.getConfiguration,
      new TaskAttemptID("graft", 0, TaskType.MAP, task, attempt))

  private def file(p: Path): File = new File(p.toUri.getPath)

  /** Open a new file of `ctx` in `dir` and write a few bytes to it. */
  private def write(p: LakeCommitProtocol, ctx: TaskAttemptContext,
      dir: String): Path = {
    val f = new Path(p.newTaskTempFile(ctx, Some(dir), spec))
    val out = f.getFileSystem(ctx.getConfiguration).create(f, false)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
    f
  }

  test("an aborted attempt leaves no file; a retry gets a new name and " +
      "the job publishes its files only") {
    val out = tmpDir("protocol")
    val id = UUID.randomUUID.toString
    val j = job(id)
    val p = new LakeCommitProtocol(UUID.randomUUID.toString, out, false)
    p.setupJob(j)
    val a0 = attempt(j, 0, 0)
    p.setupTask(a0)
    val f0 = write(p, a0, "k=1")
    assert(file(f0).isFile, "written under its final name")
    assert(f0.getParent.toUri.getPath == new File(out, "k=1").getPath)
    p.abortTask(a0)
    assert(!file(f0).exists(), "aborted attempt left its file")

    val a1 = attempt(j, 0, 1)
    p.setupTask(a1)
    val f1 = write(p, a1, "k=1")
    assert(f1.getName != f0.getName)
    assert(f1.getName.endsWith(s"-1${spec.suffix}"))
    val msg = p.commitTask(a1)
    p.onTaskCommit(msg)
    p.commitJob(j, Seq(msg))
    assert(LakeCommitProtocol.take(id) == Some(Seq(s"k=1/${f1.getName}")))
    assert(parquetOnDisk(new File(out)) == Set(s"k=1/${f1.getName}"))
    assert(staged(new File(out)).isEmpty)
  }

  test("a job abort deletes every committed task's files") {
    val out = tmpDir("protocol-abort")
    val id = UUID.randomUUID.toString
    val j = job(id)
    val p = new LakeCommitProtocol(UUID.randomUUID.toString, out, false)
    p.setupJob(j)
    val files = Seq(0, 1).map { t =>
      val a = attempt(j, t, 0)
      p.setupTask(a)
      val f = write(p, a, s"k=$t")
      p.onTaskCommit(p.commitTask(a))
      f
    }
    assert(files.forall(f => file(f).isFile))
    p.abortJob(j)
    assert(parquetOnDisk(new File(out)).isEmpty)
    assert(LakeCommitProtocol.take(id).isEmpty)
  }

  test("the suffix Spark asks for is kept whole: bucket ids parse") {
    val out = tmpDir("protocol-bucket")
    val j = job(UUID.randomUUID.toString)
    val p = new LakeCommitProtocol(UUID.randomUUID.toString, out, false)
    p.setupJob(j)
    val a = attempt(j, 3, 2)
    p.setupTask(a)
    val f = new Path(p.newTaskTempFile(a, None,
      FileNameSpec("", "_00007.c000.snappy.parquet")))
    assert(BucketingUtils.getBucketId(f.getName) == Some(7))
    assert(f.getName.startsWith("part-00003-"))
  }

  test("dynamic partition overwrite is refused") {
    intercept[IllegalArgumentException](new LakeCommitProtocol(
      UUID.randomUUID.toString, tmpDir("protocol-dyn"), true))
  }

  test("a lake append whose task throws leaves no new file and commits " +
      "no version") {
    val wh = tmpDir("wh-task-fails")
    val table = new File(wh, "observations")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", Fixtures.observations, Schemas.observations)
    val before = onDisk(table)
    // already in partition order, so the writer adds no sort and the
    // row that throws comes after rows the task has written
    val rows = Fixtures.observations.withColumn("problem_id", lit("p2"))
      .coalesce(1).sortWithinPartitions(Schemas.partitionCols.map(col): _*)
    val boom = udf { (i: Long, s: String) =>
      if (i == 5) throw new IllegalStateException("boom") else s
    }
    intercept[Exception] {
      lake.append("observations", rows.withColumn("output",
        boom(monotonically_increasing_id(), col("output"))),
        Schemas.observations)
    }
    assert(onDisk(table) == before)
    assert(lake.currentVersion("observations") == 1)
  }
}
