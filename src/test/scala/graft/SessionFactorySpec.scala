package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** GraftSession is the engine's only session factory: every main and
  * harness takes its profile from there, so the profile users get is the
  * one the benchmarks measure. */
class SessionFactorySpec extends AnyFunSuite {

  test("only GraftSession.scala calls SparkSession.builder( in src/main") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root),
      s"expected to run from the project root, no ${root.toAbsolutePath}")
    val files = Files.walk(root)
    val builders =
      try files.iterator.asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString != "GraftSession.scala")
        .filter(p => Files.readString(p).contains("SparkSession.builder("))
        .map(root.relativize(_).toString).toList.sorted
      finally files.close()
    assert(builders.isEmpty, "build the session with graft.GraftSession")
  }
}
