package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One place in the program sets up a task outside Spark's executor: the
  * driver run in `ResultCollectBridge.scala`, which registers its attempt
  * with the block manager and releases its locks and memory as an
  * executor does. A second task set-up elsewhere would have to repeat all
  * of that, so none may appear. */
class TaskSetupGuardSpec extends AnyFunSuite {
  private val Banned = Seq("new TaskContextImpl", "TaskContext.setTaskContext")

  test("only ResultCollectBridge.scala creates or installs a TaskContext") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root),
      s"expected to run from the project root, no ${root.toAbsolutePath}")
    val files = Files.walk(root)
    val hits: Map[String, Seq[String]] =
      try files.iterator.asScala.filter(Files.isRegularFile(_))
        .map((p: Path) => root.relativize(p).toString ->
          Banned.filter(Files.readString(p).contains))
        .filter(_._2.nonEmpty).toMap
      finally files.close()
    val bridge = "scala/graft/plans/ResultCollectBridge.scala"
    assert(hits.keySet == Set(bridge), hits)
    // the guard itself stays honest: the bridge still does both
    assert(hits(bridge) == Banned)
  }
}
