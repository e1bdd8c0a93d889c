package graft

import java.io.File
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}
import graft.lake.Lakehouse
import graft.metrics.JobCounter
import graft.schema.Schemas
import LakeFiles.{manifest, onDisk, parquetOnDisk, partitionOf, staged}

/** Every Lakehouse mutation that replaces files (upsert, deleteWhere,
  * compact with and without a predicate, compactZOrder) runs through one
  * write-then-commit path. These pin its contract on the fixtures: the
  * latest manifest is the previous one minus the touched partitions'
  * files plus the op's new files, replaced files stay on disk where
  * they were, every earlier version reads back unchanged, nothing is
  * staged or archived, and a rewrite that fails leaves the table as it
  * was. Appends that race rebase onto each other; a rewrite that races
  * fails. */
class RewritePathSpec extends SparkSpec {
  private val T = "observations"
  private val keys = Seq("data_set_id", "problem_id", "implementation_id",
    "test_id", "run_id", "environment_id", "step_id")

  private def obsIn(problem: String): DataFrame =
    Fixtures.observations.withColumn("problem_id", lit(problem))

  /** Rows as sorted strings over name-sorted columns: a read through a
    * snapshot may order its columns differently from a live read. */
  private def canon(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.toSeq.map(col): _*).collect()
      .map(_.toString).toSeq.sorted

  test("every rewrite op: manifest delta, files in place, versions " +
      "unchanged") {
    val wh = tmpDir("wh-rewrite")
    val table = new File(wh, T)
    val lake = new Lakehouse(spark, wh)
    // "p:3" is escape-encoded in its directory name
    lake.append(T, obsIn("p1").union(obsIn("p2")).union(obsIn("p:3")),
      Schemas.observations)
    lake.append(T, obsIn("p1"), Schemas.observations)
    assert(staged(table).isEmpty, "append left commit machinery")
    val snaps = scala.collection.mutable.Map(
      1 -> canon(lake.load(T, 1)), 2 -> canon(lake.load(T, 2)))
    val p = Seq("p1", "p2", "p%3A3")
      .map(q => q -> s"data_set_id=HumanEval/problem_id=$q").toMap
    var disk = onDisk(table)
    /** `op` just ran, rewriting the partition dirs `touched`. */
    def check(op: String, touched: Set[String]): Unit = {
      val v = lake.currentVersion(T)
      assert(v == snaps.size + 1, s"$op committed no version")
      assert(lake.manifestOp(T, v) == op)
      val now = onDisk(table)
      assert(disk.subsetOf(now), s"$op moved or deleted a file")
      val added = (now -- disk).filter(_.endsWith(".parquet"))
      assert(added.map(partitionOf).subsetOf(touched),
        s"$op wrote outside the partitions it touched")
      val prev = manifest(table, v - 1)
      assert(manifest(table, v) ==
        prev.filterNot(f => touched(partitionOf(f))) ++ added,
        s"$op: latest manifest is not the previous one minus the " +
          "touched partitions' files plus the op's new files")
      val replaced = prev -- manifest(table, v)
      assert(replaced.nonEmpty, s"$op replaced no file")
      replaced.foreach(r => assert(new File(table, r).isFile,
        s"$op: replaced file $r is not on disk at its own path"))
      snaps(v) = canon(lake.load(T, v))
      assert(canon(lake.observations) == snaps(v))
      snaps.foreach { case (u, rows) =>
        assert(canon(lake.load(T, u)) == rows, s"after $op: v$u changed")
      }
      Seq("_staging", "_archive").foreach(d =>
        assert(!new File(table, d).exists(), s"$op made $d"))
      assert(staged(table).isEmpty, s"$op left commit machinery")
      disk = now
    }
    def count(c: Column) =
      lake.observations.filter(c).count()

    val base = Fixtures.observations.limit(1)
    lake.upsert(T, base.withColumn("output", lit("UPD"))
        .union(base.withColumn("step_id", lit(99))
          .withColumn("output", lit("NEW"))), keys)
    check("upsert", Set(p("p1")))
    assert(count(col("output") === "UPD") == 1)
    assert(count(col("output") === "NEW") == 1)

    lake.deleteWhere(T,
      col("problem_id") === "p2" && col("implementation_id") === "i1")
    check("deleteWhere", Set(p("p2")))
    assert(count(col("problem_id") === "p2") == 8)

    lake.deleteWhere(T, col("problem_id") === "p:3")
    check("deleteWhere", Set(p("p%3A3")))
    assert(count(col("problem_id") === "p:3") == 0)
    assert(manifest(table, lake.currentVersion(T)).map(partitionOf) ==
      Set(p("p1"), p("p2")))

    lake.compact(T, col("problem_id") === "p1")
    check("compactWhere", Set(p("p1")))
    lake.compact(T)
    check("compact", Set(p("p1"), p("p2")))
    assert(lake.tableStats(T).collect()
      .forall(_.getAs[Long]("files") == 1))
    lake.compactZOrder(T,
      Seq("step_id", "execution_time_ms"))
    check("compactZOrder", Set(p("p1"), p("p2")))
    // compactions move no row
    assert(snaps(5) == snaps(6) && snaps(6) == snaps(7) &&
      snaps(7) == snaps(8))

    // no-ops commit nothing and write nothing
    lake.deleteWhere(T, col("problem_id") === "zz")
    lake.compact(T, col("problem_id") === "zz")
    assert(lake.currentVersion(T) == 8)
    assert(parquetOnDisk(table) == disk.filter(_.endsWith(".parquet")))
    assert(!new File(table, "_staging").exists())

    // a stats view is a lake table, written through the same path
    lake.refreshStats("by_problem", T, Seq("problem_id"),
      "execution_time_ms")
    val view = new File(wh, "_mv/by_problem")
    assert(parquetOnDisk(view).nonEmpty)
    assert(staged(view).isEmpty, "refreshStats left commit machinery")
  }

  test("a rewrite whose rows fail to evaluate leaves the table as it was") {
    val wh = tmpDir("wh-rewrite-fail")
    val table = new File(wh, T)
    val lake = new Lakehouse(spark, wh)
    lake.append(T, obsIn("p1").union(obsIn("p2")), Schemas.observations)
    val rows = canon(lake.observations)
    val all = onDisk(table)
    intercept[Exception] {
      lake.upsert(T, Fixtures.observations.limit(2)
          .withColumn("output", raise_error(lit("boom"))), keys)
    }
    assert(canon(lake.observations) == rows)
    assert(lake.currentVersion(T) == 1)
    assert(onDisk(table) == all)
    assert(!new File(table, "_staging").exists())
  }

  test("a DataFrame planned before compact, deleteWhere and rollbackTo " +
      "reads its snapshot") {
    val wh = tmpDir("wh-planned")
    val lake = new Lakehouse(spark, wh)
    lake.append(T, obsIn("p1").union(obsIn("p2")), Schemas.observations)
    lake.append(T, obsIn("p1"), Schemas.observations)
    val planned = lake.observations
    val rows = canon(lake.load(T, 2))
    lake.compact(T)
    assert(canon(planned) == rows, "after compact")
    lake.deleteWhere(T, col("problem_id") === "p1")
    val afterDelete = lake.observations
    assert(canon(planned) == rows, "after deleteWhere")
    lake.rollbackTo(T, 1)
    assert(canon(planned) == rows, "after rollbackTo")
    assert(canon(afterDelete) == canon(obsIn("p2")), "after rollbackTo")
    assert(canon(lake.observations) == canon(lake.load(T, 1)))
  }

  test("a stray parquet file in a partition dir is in no manifest and " +
      "no read") {
    val wh = tmpDir("wh-stray")
    val table = new File(wh, T)
    val lake = new Lakehouse(spark, wh)
    lake.append(T, obsIn("p1"), Schemas.observations)
    // a readable file of the table's own rows, put there by hand
    val stray = "data_set_id=HumanEval/problem_id=p1/part-stray.parquet"
    java.nio.file.Files.copy(new File(table, manifest(table, 1).head).toPath,
      new File(table, stray).toPath)
    lake.append(T, obsIn("p2"), Schemas.observations)          // v2
    lake.upsert(T, Fixtures.observations.limit(1)
      .withColumn("output", lit("UPD")), keys)                 // v3
    lake.compact(T)                                            // v4
    lake.rollbackTo(T, 2)                                      // v5
    LakeFiles.versions(table).foreach(v =>
      assert(!manifest(table, v).contains(stray), s"v$v names $stray"))
    assert(Seq(1, 2, 3, 4, 5).map(lake.load(T, _).count()) ==
      Seq(12, 24, 24, 24, 24))
    assert(lake.query("SELECT count(*) FROM observations WHERE " +
      "problem_id = 'p1'").head().getLong(0) == 12)
    assert(lake.tableStats(T).collect().map(_.getAs[Long]("files")).sum ==
      manifest(table, 5).size)
    assert(new File(table, stray).isFile)
  }

  test("rollbackTo leaves the files on disk unchanged") {
    val wh = tmpDir("wh-rollback-files")
    val table = new File(wh, T)
    val lake = new Lakehouse(spark, wh)
    lake.append(T, obsIn("p1").union(obsIn("p2")), Schemas.observations)
    lake.deleteWhere(T, col("problem_id") === "p2")
    lake.compact(T)
    def data = onDisk(table).filterNot(_.startsWith("_manifests/"))
    val before = data
    Seq(1, 3, 2).foreach { v =>
      val rows = canon(lake.load(T, v))
      lake.rollbackTo(T, v)
      assert(data == before, s"rollbackTo($v) changed the files on disk")
      assert(canon(lake.observations) == rows)
      assert(manifest(table, lake.currentVersion(T)) == manifest(table, v))
    }
  }

  test("expireSnapshots: kept versions read unchanged, every parquet " +
      "file on disk is named by a kept manifest") {
    val wh = tmpDir("wh-expire")
    val table = new File(wh, T)
    val lake = new Lakehouse(spark, wh)
    lake.append(T, obsIn("p1").union(obsIn("p2")), Schemas.observations)
    lake.append(T, obsIn("p1"), Schemas.observations)
    lake.upsert(T, Fixtures.observations.limit(1)
      .withColumn("output", lit("UPD")), keys)
    lake.deleteWhere(T, col("problem_id") === "p2")
    lake.compact(T)
    lake.rollbackTo(T, 3)                                      // v6
    val snaps = (1 to 6).map(v => v -> canon(lake.load(T, v))).toMap
    Seq(3, 1).foreach { keep =>
      lake.expireSnapshots(T, keepLast = keep)
      val kept = (7 - keep to 6)
      assert(LakeFiles.versions(table) == kept)
      kept.foreach(v => assert(canon(lake.load(T, v)) == snaps(v), s"v$v"))
      assert(parquetOnDisk(table) == kept.flatMap(manifest(table, _)).toSet)
    }
  }

  /** A nondeterministic identity on `c` that, while the write runs,
    * commits `from`'s manifest again as version `to`, as another writer
    * would. */
  private def racing(c: Column, from: File, to: File): Column = {
    val (f, t) = (from.getPath, to.getPath)
    udf { (s: String) =>
      try java.nio.file.Files.copy(java.nio.file.Paths.get(f),
        java.nio.file.Paths.get(t))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      s
    }.asNondeterministic()(c)
  }

  test("a commit whose version is taken overwrites nothing and leaves " +
      "no file") {
    val wh = tmpDir("wh-taken")
    val table = new File(wh, T)
    val lake = new Lakehouse(spark, wh)
    lake.append(T, obsIn("p1"), Schemas.observations)
    val files = parquetOnDisk(table)
    val v1 = new File(table, "_manifests/v00000001.txt")
    val v2 = new File(table, "_manifests/v00000002.txt")
    // another writer commits v2 while this rewrite runs
    intercept[java.io.IOException] {
      lake.upsert(T, Fixtures.observations.limit(1)
        .withColumn("output", racing(col("output"), v1, v2)), keys)
    }
    assert(java.nio.file.Files.readString(v2.toPath) ==
      java.nio.file.Files.readString(v1.toPath), "v2 was overwritten")
    assert(parquetOnDisk(table) == files, "the failed commit left its files")
    assert(lake.load(T, 2).count() == 12)
  }

  test("an append whose version is taken rebases onto the new latest") {
    val wh = tmpDir("wh-rebase")
    val table = new File(wh, T)
    val lake = new Lakehouse(spark, wh)
    lake.append(T, obsIn("p1"), Schemas.observations)
    val v1 = new File(table, "_manifests/v00000001.txt")
    val v2 = new File(table, "_manifests/v00000002.txt")
    lake.append(T, obsIn("p2").withColumn("output",
      racing(col("output"), v1, v2)), Schemas.observations)
    assert(java.nio.file.Files.readString(v2.toPath) ==
      java.nio.file.Files.readString(v1.toPath), "v2 was overwritten")
    assert(LakeFiles.versions(table) == Seq(1, 2, 3))
    assert(manifest(table, 3) -- manifest(table, 2) ==
      parquetOnDisk(table) -- manifest(table, 1))
    assert(lake.load(T, 3).count() == 24)
    assert(lake.observations.filter(col("problem_id") === "p2").count() ==
      12)
  }

  test("racing appends: every row lands and the versions run 1..N*k") {
    val wh = tmpDir("wh-racing")
    val table = new File(wh, T)
    val lake = new Lakehouse(spark, wh)
    val (n, k) = (4, 3)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val writers = (0 until n).map(w => pool.submit(new Runnable {
        def run(): Unit = (0 until k).foreach(b =>
          lake.append(T, obsIn(s"w$w-b$b"), Schemas.observations))
      }))
      writers.foreach(_.get(10, java.util.concurrent.TimeUnit.MINUTES))
    } finally pool.shutdownNow()
    assert(LakeFiles.versions(table) == (1 to n * k))
    assert(staged(table).isEmpty)
    val perProblem = lake.observations.groupBy("problem_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perProblem == (for (w <- 0 until n; b <- 0 until k)
      yield s"w$w-b$b" -> 12L).toMap)
    assert(parquetOnDisk(table) == manifest(table, n * k))
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
