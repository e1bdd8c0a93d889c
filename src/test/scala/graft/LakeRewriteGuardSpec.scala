package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every Lakehouse mutation that replaces files stages its new files and
  * then swaps them in (`Lakehouse.rewritePartitions`). The mechanisms
  * that path replaced must not come back beside it: Spark's dynamic
  * partition overwrite, a checkpoint to break the read/overwrite cycle,
  * and compaction's whole-table directory swap. Nor may a lake read
  * infer its schema beside the one its snapshot manifest records. */
class LakeRewriteGuardSpec extends AnyFunSuite {

  test("graft/lake has no dynamic overwrite, checkpoint or root swap") {
    val root = Paths.get("src/main/scala/graft/lake")
    assert(Files.isDirectory(root),
      s"expected to run from the project root, no ${root.toAbsolutePath}")
    val banned = Seq("partitionOverwriteMode", "localCheckpoint(",
      "__compacting")
    val files = Files.walk(root)
    val hits =
      try files.iterator.asScala.filter(Files.isRegularFile(_))
        .flatMap { p =>
          val text = Files.readString(p)
          banned.filter(text.contains)
            .map(b => s"${root.relativize(p)}: $b")
        }.toList.sorted
      finally files.close()
    assert(hits.isEmpty, "rewrite through Lakehouse.rewritePartitions")
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
