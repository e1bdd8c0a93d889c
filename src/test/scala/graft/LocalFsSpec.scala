package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException,
  FileContext, FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.lake.{Lakehouse, LocalFs}
import graft.schema.Schemas

/** The engine session's `file:` FileSystem ([[graft.lake.LocalFs]]):
  * both Hadoop APIs resolve to it, writes start no child process, and
  * modes and checksums are those of Hadoop's stock local FS. */
class LocalFsSpec extends SparkSpec {
  private val T = "observations"

  /** The commands of the processes `org.apache.hadoop.util.Shell`
    * started while `body` ran, from a JFR `jdk.ProcessStart` recording. */
  private def shellProcesses(body: => Unit): Seq[String] = {
    // Shell's static initialiser probes the host with child processes
    // once per JVM; run it before recording
    assert(!org.apache.hadoop.util.Shell.WINDOWS)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("localfs", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName ==
            "org.apache.hadoop.util.Shell")))
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  /** Every file (`true`) and directory (`false`) under `root`,
    * relative to it; `root` itself excluded. */
  private def entries(root: File): Seq[(String, Boolean)] = {
    def walk(d: File, rel: String): Seq[(String, Boolean)] =
      d.listFiles().toSeq.flatMap { f =>
        val r = rel + f.getName
        if (f.isDirectory) (r, false) +: walk(f, r + "/") else Seq((r, true))
      }
    walk(root, "")
  }

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] &
      octal("7777")

  test("the engine session resolves file: to LocalFs through " +
      "FileSystem and FileContext") {
    val conf = spark.sessionState.newHadoopConf()
    val uri = URI.create("file:///")
    assert(FileSystem.get(uri, conf).getClass == classOf[LocalFs])
    assert(FileContext.getFileContext(uri, conf).getDefaultFileSystem
      .getClass == classOf[LocalFs.Context])
  }

  test("append and compact start no Shell child process") {
    val lake = new Lakehouse(spark, tmpDir("wh-localfs"))
    val procs = shellProcesses {
      lake.append(T, Fixtures.observations, Schemas.observations,
        sortCols = Seq("implementation_id", "test_id", "step_id"))
      lake.append(T, Fixtures.observations.withColumn("problem_id",
        lit("p2")), Schemas.observations)
      lake.compact(T)
    }
    assert(procs.isEmpty, procs.mkString("\n"))
    assert(lake.observations.count() == 24)
    assert(lake.currentVersion(T) == 3)
  }

  test("an AvailableNow streaming batch starts no Shell child process") {
    val src = tmpDir("localfs-src")
    val out = tmpDir("localfs-out")
    val ck = tmpDir("localfs-ck")
    val rows = spark.range(100).selectExpr("id", "id % 7 AS k")
    rows.coalesce(1).write.mode("append").parquet(src)
    val procs = shellProcesses {
      spark.readStream.schema(rows.schema).parquet(src)
        .writeStream.format("parquet")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start(out)
        .awaitTermination(60000)
    }
    assert(procs.isEmpty, procs.mkString("\n"))
    assert(spark.read.parquet(out).count() == 100)
  }

  test("append writes the modes a stock LocalFileSystem writes") {
    val wh = tmpDir("wh-modes")
    new Lakehouse(spark, wh).append(T, Fixtures.observations,
      Schemas.observations)
    val table = new File(wh, T)
    val written = entries(table)
    assert(written.exists(_._1.endsWith(".parquet")))
    // the same entries, created through Hadoop's stock local FS
    val mirror = new File(tmpDir("wh-modes-stock"))
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), new Configuration())
    try written.foreach { case (rel, isFile) =>
      val p = new HPath(new File(mirror, rel).toURI)
      if (isFile) stock.getRaw.create(p, true).close()
      else stock.getRaw.mkdirs(p)
    } finally stock.close()
    written.foreach { case (rel, _) =>
      val (got, want) = (mode(new File(table, rel)),
        mode(new File(mirror, rel)))
      assert(got == want, f"$rel: mode $got%o, stock FS $want%o")
    }
    assert(mode(new File(table, written.find(_._2).get._1)) ==
      octal("644"))
  }

  test("every data file has a .crc sibling, and a flipped byte fails " +
      "its read") {
    val wh = tmpDir("wh-crc")
    val lake = new Lakehouse(spark, wh)
    lake.append(T, Fixtures.observations, Schemas.observations)
    val table = new File(wh, T)
    val data = entries(table).collect {
      case (rel, true) if rel.endsWith(".parquet") => new File(table, rel)
    }
    assert(data.nonEmpty)
    data.foreach { f =>
      assert(new File(f.getParentFile, s".${f.getName}.crc").isFile,
        s"no checksum for $f")
    }
    val victim = data.head
    val bytes = Files.readAllBytes(victim.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
    Files.write(victim.toPath, bytes)
    val fs = FileSystem.get(URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    val in = fs.open(new HPath(victim.toURI))
    try intercept[ChecksumException](in.readAllBytes())
    finally in.close()
    val e = intercept[Exception](
      spark.read.parquet(victim.getPath).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e)
  }

  test("of racing no-overwrite creates of one file, exactly one wins") {
    val fs = new LocalFs
    fs.initialize(URI.create("file:///"), new Configuration())
    val dir = new File(tmpDir("localfs-race"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val wins = (0 until 200).map { i =>
        val p = new HPath(new File(dir, s"v$i").toURI)
        val go = new java.util.concurrent.CountDownLatch(1)
        val racers = (0 until 4).map(_ => pool.submit(
          new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              go.await()
              try { fs.create(p, false).close(); true }
              catch { case _: FileAlreadyExistsException => false }
            }
          }))
        go.countDown()
        racers.count(_.get())
      }
      assert(wins.forall(_ == 1), wins.mkString(","))
    } finally {
      pool.shutdownNow()
      fs.close()
    }
  }

  test("a sticky-bit permission falls back to Hadoop's chmod; others go " +
      "through NIO") {
    val fs = new LocalFs
    fs.initialize(URI.create("file:///"), new Configuration())
    try {
      val d = new File(tmpDir("localfs-sticky"))
      // the Shell processes each call started
      def set(f: File, m: String): Int = {
        val procs = shellProcesses(fs.setPermission(new HPath(f.toURI),
          new FsPermission(octal(m).toShort)))
        assert(mode(f) == octal(m), s"$f: want $m")
        procs.size
      }
      assert(set(d, "1755") == 1)
      assert(set(d, "750") == 0)
      val f = new File(d, "f")
      Files.createFile(Paths.get(f.getPath))
      assert(set(f, "640") == 0)
    } finally fs.close()
  }
}
