package graft

import java.io.File
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}
import graft.lake.Lakehouse
import graft.metrics.JobCounter
import graft.schema.Schemas

/** Every Lakehouse mutation that replaces files (upsert, deleteWhere,
  * compact with and without a predicate, compactZOrder) runs through one
  * stage-then-swap path. These pin its contract on the fixtures: the
  * latest manifest is the live file set, replaced files are archived,
  * every earlier version reads back unchanged, nothing is left staged,
  * and a rewrite that fails leaves the table as it was. */
class RewritePathSpec extends SparkSpec {
  private val T = "observations"
  private val keys = Seq("data_set_id", "problem_id", "implementation_id",
    "test_id", "run_id", "environment_id", "step_id")

  private def obsIn(problem: String): DataFrame =
    Fixtures.observations.withColumn("problem_id", lit(problem))

  /** Relative paths of every file under `dir`, `visibleOnly` skipping
    * any whose path has an underscore- or dot-prefixed segment. */
  private def files(dir: File, visibleOnly: Boolean): Set[String] = {
    def walk(d: File, rel: String): Seq[String] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        val r = rel + f.getName
        if (visibleOnly && (f.getName.startsWith("_") ||
            f.getName.startsWith("."))) Nil
        else if (f.isDirectory) walk(f, r + "/")
        else Seq(r)
      }
    walk(dir, "").toSet
  }

  /** The data files a manifest lists, after its header, schema and
    * partitions lines. */
  private def manifest(table: File, v: Int): Set[String] = {
    val src = scala.io.Source.fromFile(
      new File(table, f"_manifests/v$v%08d.txt"), "UTF-8")
    try src.getLines().drop(3).filter(_.nonEmpty).toSet
    finally src.close()
  }

  /** Rows as sorted strings over name-sorted columns: a read through a
    * snapshot may order its columns differently from a live read. */
  private def canon(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.toSeq.map(col): _*).collect()
      .map(_.toString).toSeq.sorted

  test("every rewrite op: manifest = live files, replaced files " +
      "archived, earlier versions unchanged, nothing staged") {
    val wh = tmpDir("wh-rewrite")
    val table = new File(wh, T)
    val lake = new Lakehouse(spark, wh)
    // "p:3" is escape-encoded in its directory name
    lake.append(T, obsIn("p1").union(obsIn("p2")).union(obsIn("p:3")),
      Schemas.observations)
    lake.append(T, obsIn("p1"), Schemas.observations)
    val snaps = scala.collection.mutable.Map(
      1 -> canon(lake.load(T, 1)), 2 -> canon(lake.load(T, 2)))
    def check(op: String): Unit = {
      val v = lake.currentVersion(T)
      assert(v == snaps.size + 1, s"$op committed no version")
      assert(lake.manifestOp(T, v) == op)
      val now = manifest(table, v)
      assert(now == files(table, visibleOnly = true),
        s"$op: latest manifest differs from the live files")
      val replaced = manifest(table, v - 1) -- now
      assert(replaced.nonEmpty, s"$op replaced no file")
      replaced.foreach(r => assert(new File(table, s"_archive/$r").isFile,
        s"$op: replaced file $r is not archived"))
      snaps(v) = canon(lake.load(T, v))
      assert(canon(lake.observations) == snaps(v))
      snaps.foreach { case (u, rows) =>
        assert(canon(lake.load(T, u)) == rows, s"after $op: v$u changed")
      }
      assert(!new File(table, "_staging").exists(), s"$op left _staging")
    }
    def count(c: Column) =
      lake.observations.filter(c).count()

    val base = Fixtures.observations.limit(1)
    lake.upsert(T, base.withColumn("output", lit("UPD"))
        .union(base.withColumn("step_id", lit(99))
          .withColumn("output", lit("NEW"))), keys)
    check("upsert")
    assert(count(col("output") === "UPD") == 1)
    assert(count(col("output") === "NEW") == 1)

    lake.deleteWhere(T,
      col("problem_id") === "p2" && col("implementation_id") === "i1")
    check("deleteWhere")
    assert(count(col("problem_id") === "p2") == 8)

    lake.deleteWhere(T, col("problem_id") === "p:3")
    check("deleteWhere")
    assert(count(col("problem_id") === "p:3") == 0)
    assert(new File(table, "data_set_id=HumanEval").list().toSet ==
      Set("problem_id=p1", "problem_id=p2"))

    lake.compact(T, col("problem_id") === "p1")
    check("compactWhere")
    lake.compact(T)
    check("compact")
    assert(lake.tableStats(T).collect()
      .forall(_.getAs[Long]("files") == 1))
    lake.compactZOrder(T,
      Seq("step_id", "execution_time_ms"))
    check("compactZOrder")
    // compactions move no row
    assert(snaps(5) == snaps(6) && snaps(6) == snaps(7) &&
      snaps(7) == snaps(8))

    // no-ops commit nothing
    lake.deleteWhere(T, col("problem_id") === "zz")
    lake.compact(T, col("problem_id") === "zz")
    assert(lake.currentVersion(T) == 8)
    assert(!new File(table, "_staging").exists())
  }

  test("a rewrite whose rows fail to evaluate leaves the table as it was") {
    val wh = tmpDir("wh-rewrite-fail")
    val table = new File(wh, T)
    val lake = new Lakehouse(spark, wh)
    lake.append(T, obsIn("p1").union(obsIn("p2")), Schemas.observations)
    val rows = canon(lake.observations)
    val all = files(table, visibleOnly = false)
    intercept[Exception] {
      lake.upsert(T, Fixtures.observations.limit(2)
          .withColumn("output", raise_error(lit("boom"))), keys)
    }
    assert(canon(lake.observations) == rows)
    assert(lake.currentVersion(T) == 1)
    assert(files(table, visibleOnly = false) == all)
    assert(!new File(table, "_staging").exists())
  }

  test("upsert into an evolved table whose first file predates the " +
      "new column") {
    val wh = tmpDir("wh-rewrite-evolved")
    val lake = new Lakehouse(spark, wh)
    val evolved = lake.evolveSchema(Schemas.observations,
      StructField("study_tag", StringType, nullable = true))
    lake.append(T, obsIn("p0"), Schemas.observations)
    lake.append(T, obsIn("p1").withColumn("study_tag", lit("s1")), evolved)
    lake.upsert(T, obsIn("p1").limit(1).withColumn("study_tag", lit("s2")),
      keys)
    val back = lake.observations
    assert(back.count() == 24)
    assert(back.filter(col("study_tag") === "s2").count() == 1)
    assert(back.filter(col("study_tag") === "s1").count() == 11)
    assert(back.filter(col("problem_id") === "p0" &&
      col("study_tag").isNull).count() == 12)
  }

  test("each rewrite op runs no more Spark jobs than its hand-rolled " +
      "predecessor") {
    // jobs per op on this sequence with the earlier implementation
    // (checkpoint, touched-set collect, dynamic partition overwrite,
    // whole-table directory swap), measured in this test's session
    val before = Map("upsert" -> 5, "deleteWhere" -> 9,
      "compactWhere" -> 6, "compact" -> 3, "compactZOrder" -> 8)
    val wh = tmpDir("wh-rewrite-jobs")
    val lake = new Lakehouse(spark, wh)
    lake.append(T, obsIn("p1").union(obsIn("p2")), Schemas.observations)
    lake.append(T, obsIn("p1"), Schemas.observations)
    val jobs = new JobCounter(spark.sparkContext)
    val n = try {
      jobs.tagged("upsert")(lake.upsert(T,
        Fixtures.observations.limit(1).withColumn("output", lit("UPD")),
        keys))
      jobs.tagged("deleteWhere")(lake.deleteWhere(T,
        col("problem_id") === "p2" && col("implementation_id") === "i1"))
      jobs.tagged("compactWhere")(lake.compact(T,
        col("problem_id") === "p1"))
      jobs.tagged("compact")(lake.compact(T))
      jobs.tagged("compactZOrder")(lake.compactZOrder(T,
        Seq("step_id", "execution_time_ms")))
      jobs.counts()
    } finally jobs.close()
    info(s"jobs per op: $n, before: $before")
    assert(lake.currentVersion(T) == 7)
    before.foreach { case (op, was) =>
      assert(n.getOrElse(op, 0) <= was, s"$op: $n vs $before")
    }
    Seq("deleteWhere", "compactWhere", "compactZOrder").foreach { op =>
      assert(n.getOrElse(op, 0) < before(op), s"$op: $n vs $before")
    }
  }
}
