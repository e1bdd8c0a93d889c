package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every Lakehouse mutation that replaces files writes its new files
  * beside the old ones and commits one manifest
  * (`Lakehouse.rewritePartitions`), stats views included. The
  * mechanisms that path replaced must not come back beside it: Spark's
  * dynamic partition overwrite and the stats views' own `state-v<N>`
  * swap anywhere in the program; in `graft/lake` a checkpoint to break
  * the read/overwrite cycle and compaction's whole-table directory
  * swap; and in `Lakehouse` the staging and archive directories and any
  * rename, since a committed file never moves. The commit protocol
  * writes each file under its final name, so it neither builds on
  * Hadoop's committer nor renames. Nor may a lake read infer its schema
  * beside the one its snapshot manifest records. */
class LakeRewriteGuardSpec extends AnyFunSuite {

  /** `root-relative path: pattern` for each banned pattern a file under
    * `root` contains. */
  private def hits(root: String, banned: Seq[String]): List[String] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir),
      s"expected to run from the project root, no ${dir.toAbsolutePath}")
    val files = Files.walk(dir)
    try files.iterator.asScala.filter(Files.isRegularFile(_))
      .flatMap { p =>
        val text = Files.readString(p)
        banned.filter(text.contains).map(b => s"${dir.relativize(p)}: $b")
      }.toList.sorted
    finally files.close()
  }

  test("graft/lake has no dynamic overwrite, checkpoint or root swap") {
    val found = hits("src/main/scala/graft/lake",
      Seq("partitionOverwriteMode", "localCheckpoint(", "__compacting"))
    assert(found.isEmpty, "rewrite through Lakehouse.rewritePartitions")
  }

  test("src/main has no dynamic partition overwrite or state-v swap") {
    val found = hits("src/main", Seq("partitionOverwriteMode", "state-v"))
    assert(found.isEmpty, "rewrite through Lakehouse.rewritePartitions")
  }

  test("Lakehouse moves no file: no staging, archive or rename") {
    val lakehouse = Paths.get("src/main/scala/graft/lake/Lakehouse.scala")
    val text = Files.readString(lakehouse)
    val hits = Seq("_archive", "_staging", ".rename(").filter(text.contains)
    assert(hits.isEmpty, s"$lakehouse: commit a manifest, move no file")
  }

  test("LakeCommitProtocol writes in place: no Hadoop committer, no " +
      "rename") {
    val protocol =
      Paths.get("src/main/scala/graft/lake/LakeCommitProtocol.scala")
    val text = Files.readString(protocol)
    val hits = Seq("HadoopMapReduceCommitProtocol", ".rename(")
      .filter(text.contains)
    assert(hits.isEmpty, s"$protocol: write each file under its final name")
  }

  test("Lakehouse reads with its manifests' schema, never an inferred one") {
    // each of these would decide a lake table's schema beside the one
    // its committed manifest records
    val lakehouse = Paths.get("src/main/scala/graft/lake/Lakehouse.scala")
    val text = Files.readString(lakehouse)
    val hits = Seq("mergeSchema", "UNABLE_TO_INFER_SCHEMA", "ParquetRead")
      .filter(text.contains)
    assert(hits.isEmpty, s"$lakehouse: take the schema from the manifest")
  }
}
