package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import graft.lake.Lakehouse
import graft.schema.Schemas

class LakehouseSpec extends SparkSpec {

  test("append + load round-trips through the partitioned layout") {
    val wh = tmpDir("wh")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", Fixtures.observations, Schemas.observations,
      sortCols = Seq("implementation_id", "test_id", "step_id"))
    val back = lake.observations
    assert(back.count() == 12)
    // partition dirs exist (Hive layout, README.md:95-110 analog)
    assert(new java.io.File(
      s"$wh/observations/data_set_id=HumanEval/problem_id=p1").exists())
    // partition cols come back as columns
    assert(back.select("data_set_id").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("HumanEval"))
  }

  test("partition filter prunes the file scan") {
    val wh = tmpDir("wh")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", Fixtures.observations, Schemas.observations)
    lake.append("observations",
      Fixtures.observations
        .withColumn("problem_id", lit("p2")),
      Schemas.observations)
    val pruned = lake.observations.filter(col("problem_id") === "p1")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == 12)
    // the scan's partition filters must mention problem_id
    assert(plan.contains("problem_id"))
  }

  test("second append is incremental (Iceberg-append analog)") {
    val wh = tmpDir("wh")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", Fixtures.observations, Schemas.observations)
    lake.append("observations", Fixtures.observations, Schemas.observations)
    assert(lake.observations.count() == 24)
  }

  test("additive schema evolution: old rows read as typed NULL") {
    val wh = tmpDir("wh")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", Fixtures.observations, Schemas.observations)
    val evolved = lake.evolveSchema(Schemas.observations,
      StructField("study_tag", StringType, nullable = true))
    lake.append("observations",
      Fixtures.observations.withColumn("study_tag", lit("s1"))
        .withColumn("problem_id", lit("p2")),
      evolved)
    val all = lake.observations
    assert(all.count() == 24)
    assert(all.filter(col("study_tag").isNull).count() == 12)
    assert(all.filter(col("study_tag") === "s1").count() == 12)
  }

  test("every rewrite op keeps an evolved column's values") {
    // the ops rewrite with the schema the table's manifest records:
    // none of them may NULL a column added after the first append
    val T = "observations"
    val keys = Seq("data_set_id", "problem_id", "implementation_id",
      "test_id", "run_id", "environment_id", "step_id")
    def obsIn(p: String) =
      Fixtures.observations.withColumn("problem_id", lit(p))
    // (op, the op, 's1' rows that survive it)
    val ops: Seq[(String, Lakehouse => Unit, Long)] = Seq(
      ("upsert", _.upsert(T,
        obsIn("p1").limit(1).withColumn("step_id", lit(99)), keys), 12L),
      ("deleteWhere", _.deleteWhere(T,
        col("problem_id") === "p1" && col("implementation_id") === "i1"),
        8L),
      ("compact", _.compact(T), 12L),
      ("compactZOrder",
        _.compactZOrder(T, Seq("step_id", "execution_time_ms")), 12L))
    ops.foreach { case (op, run, survivors) =>
      val lake = new Lakehouse(spark, tmpDir(s"wh-evo-$op"))
      lake.append(T, obsIn("p0"), Schemas.observations)
      lake.append(T, obsIn("p1").withColumn("study_tag", lit("s1")),
        lake.evolveSchema(Schemas.observations,
          StructField("study_tag", StringType, nullable = true)))
      run(lake)
      assert(lake.manifestOp(T, 3) == op)
      val all = lake.observations
      assert(all.filter(col("study_tag") === "s1").count() == survivors,
        op)
      assert(all.filter(col("problem_id") === "p0" &&
        col("study_tag").isNull).count() == 12, op)
    }
  }

  test("upsert aligns its updates to the table by name") {
    val wh = tmpDir("wh-upalign")
    val lake = new Lakehouse(spark, wh)
    val keys = Seq("data_set_id", "problem_id", "implementation_id",
      "test_id", "run_id", "environment_id", "step_id")
    lake.append("observations", Fixtures.observations, Schemas.observations)
    // a missing optional column reads as a typed NULL, whatever the
    // column order; a new column evolves the table as optional
    val upd = Fixtures.observations.limit(1).drop("output")
      .withColumn("study_tag", lit("s2"))
    lake.upsert("observations", upd.select(upd.columns.reverse.map(col)
      .toSeq: _*), keys)
    val back = lake.observations
    assert(back.count() == 12)
    assert(back.filter(col("output").isNull).count() == 1)
    assert(back.filter(col("study_tag") === "s2").count() == 1)
    assert(back.filter(col("study_tag").isNull).count() == 11)
    // a missing required column fails before anything is written
    val e = intercept[IllegalArgumentException] {
      lake.upsert("observations", upd.drop("step_id"),
        keys.filterNot(_ == "step_id"))
    }
    assert(e.getMessage.contains("step_id"))
    assert(lake.currentVersion("observations") == 2)
  }

  test("load takes the evolved schema from the manifest, not from the " +
      "first footer") {
    // p0's files sort first and predate study_tag: a schema read from
    // the first footer would drop the column
    val wh = tmpDir("wh-evo")
    val lake = new Lakehouse(spark, wh)
    val evolved = lake.evolveSchema(Schemas.observations,
      StructField("study_tag", StringType, nullable = true))
    lake.append("observations", Fixtures.observations
      .withColumn("problem_id", lit("p0")), Schemas.observations)
    lake.append("observations", Fixtures.observations
      .withColumn("problem_id", lit("p1"))
      .withColumn("study_tag", lit("s1")), evolved)
    val all = lake.observations
    assert(all.columns.contains("study_tag"))
    assert(all.filter(col("problem_id") === "p0" &&
      col("study_tag").isNull).count() == 12)
    assert(all.filter(col("problem_id") === "p1" &&
      col("study_tag") === "s1").count() == 12)
    // each version keeps the schema it committed, and a rollback
    // commits its target's schema
    assert(!lake.load("observations", 1).columns.contains("study_tag"))
    assert(lake.load("observations", 2).schema == all.schema)
    lake.rollbackTo("observations", 1)
    assert(lake.observations.schema ==
      lake.load("observations", 1).schema)
    assert(lake.observations.count() == 12)
    // evolution is additive only: a retyped column fails before writing
    val e = intercept[IllegalArgumentException] {
      lake.append("observations", Fixtures.observations,
        StructType(Schemas.observations.fields.map(f =>
          if (f.name == "step_id") f.copy(dataType = LongType) else f)))
    }
    assert(e.getMessage.contains("step_id"))
    assert(lake.currentVersion("observations") == 3)
  }

  test("CSV sink round-trips benchmark-style results (S7)") {
    val dir = tmpDir("csv")
    val results = Fixtures.observations
      .groupBy("implementation_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    results.write.option("header", "true").mode("overwrite")
      .csv(s"$dir/out")
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$dir/out")
    assert(back.count() == 3)
    assert(back.columns.toSeq == Seq("implementation_id", "n"))
  }

  test("lazy SQL API over the lakehouse tables") {
    val wh = tmpDir("wh")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", Fixtures.observations, Schemas.observations)
    val n = lake.query(
      "SELECT count(*) AS n FROM observations WHERE problem_id = 'p1'")
      .collect().head.getLong(0)
    assert(n == 12)
  }

  test("upsert: replaces keyed rows, inserts new, untouched partitions kept") {
    val wh = tmpDir("wh-up")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", Fixtures.observations, Schemas.observations)
    val before = lake.observations.count()
    val keys = Seq("data_set_id", "problem_id", "implementation_id",
      "test_id", "run_id", "environment_id", "step_id")
    // one updated row (existing identity, new output) + one new step
    val base = Fixtures.observations.limit(1)
    val updates =
      base.withColumn("output", org.apache.spark.sql.functions.lit("UPD"))
        .union(base
          .withColumn("step_id", org.apache.spark.sql.functions.lit(99))
          .withColumn("output", org.apache.spark.sql.functions.lit("NEW")))
    lake.upsert("observations", updates, keys)
    val after = lake.observations
    assert(after.count() == before + 1) // replaced one, inserted one
    assert(after.filter(col("output") === "UPD").count() == 1)
    assert(after.filter(col("step_id") === 99 &&
      col("output") === "NEW").count() == 1)
    // stats see the partition; targeted compaction leaves content intact
    val stats = lake.tableStats("observations").collect()
    assert(stats.nonEmpty && stats.forall(_.getAs[Long]("files") >= 1))
    val rowsBefore = after.orderBy("step_id", "implementation_id",
      "test_id").collect().toSeq
    lake.compact("observations",
      col("problem_id") === "p1")
    val rowsAfter = lake.observations.orderBy("step_id",
      "implementation_id", "test_id").collect().toSeq
    assert(rowsBefore == rowsAfter)
    assert(lake.tableStats("observations").collect()
      .forall(_.getAs[Long]("files") == 1)) // compacted to one file/dir
  }

  test("VERSION AS OF SQL reads a pinned snapshot through query()") {
    val wh = tmpDir("wh-ttsql")
    val lake = new Lakehouse(spark, wh)
    // v1: initial append; v2: destructive delete
    lake.append("observations", Fixtures.observations, Schemas.observations)
    lake.deleteWhere("observations",
      col("implementation_id") === "i1")
    assert(lake.currentVersion("observations") == 2)
    // SQL form = programmatic load(table, asOf): v1 intact post-delete
    val viaSql = lake.query(
      "SELECT implementation_id, COUNT(*) AS n FROM observations " +
        "VERSION AS OF 1 GROUP BY implementation_id ORDER BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val viaApi = lake.load("observations", 1)
      .groupBy("implementation_id").count().orderBy("implementation_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(viaSql == viaApi && viaSql.exists(_._1 == "i1"))
    // the bare name still resolves to the LIVE table (temp view)
    assert(lake.query(
      "SELECT COUNT(*) FROM observations WHERE implementation_id = 'i1'")
      .collect().head.getLong(0) == 0)
    // joins mixing versions work — each leg resolves independently
    val mixed = lake.query(
      """SELECT COUNT(*) FROM observations VERSION AS OF 1 a
         JOIN observations b USING (implementation_id, test_id, run_id,
           environment_id, step_id)""").collect().head.getLong(0)
    assert(mixed > 0)
    // unregistered names fall through to the built-in error unchanged
    val e = intercept[Exception](lake.query(
      "SELECT * FROM no_such_table VERSION AS OF 1").collect())
    assert(!e.getMessage.contains("graft"), e.getMessage)
    // non-integer versions fail loudly with the table named
    val e2 = intercept[Exception](lake.query(
      "SELECT * FROM observations VERSION AS OF 'abc'").collect())
    assert(e2.getMessage.contains("integer snapshot version"),
      e2.getMessage)
  }

  test("snapshot-lite: read-at-version survives delete, upsert, " +
      "compaction; vacuum expires loudly") {
    val wh = tmpDir("wh-tt")
    val lake = new Lakehouse(spark, wh)
    // v1: initial append
    lake.append("observations", Fixtures.observations, Schemas.observations)
    assert(lake.currentVersion("observations") == 1)
    val v1Rows = lake.load("observations", 1)
      .orderBy("step_id", "implementation_id", "test_id")
      .drop("created_at").collect().toSeq
    assert(v1Rows.size == 12)
    // v2: delete a slice — v1 must read back INTACT afterwards
    lake.deleteWhere("observations",
      col("implementation_id") === "i1")
    assert(lake.currentVersion("observations") == 2)
    assert(lake.observations.filter(col("implementation_id") === "i1")
      .count() == 0)
    assert(lake.load("observations", 1)
      .orderBy("step_id", "implementation_id", "test_id")
      .drop("created_at").collect().toSeq == v1Rows)
    // v3: upsert on top — v1 and v2 both still pinned
    val upd = Fixtures.observations.limit(1)
      .withColumn("output", lit("UPD"))
    lake.upsert("observations", upd,
      Seq("data_set_id", "problem_id", "implementation_id",
        "test_id", "run_id", "environment_id", "step_id"))
    val v2Count = lake.load("observations", 2).count()
    assert(lake.load("observations", 1).count() == 12)
    assert(lake.load("observations", 3)
      .filter(col("output") === "UPD").count() == 1)
    // v4: whole-table compaction — every earlier version still reads
    lake.compact("observations")
    assert(lake.currentVersion("observations") == 4)
    assert(lake.load("observations", 1).count() == 12)
    assert(lake.load("observations", 2).count() == v2Count)
    // live state untouched by snapshot bookkeeping
    assert(lake.observations.count() ==
      lake.load("observations", 4).count())
    // vacuum to the latest 2: v1 becomes unreadable LOUDLY, v4 intact
    lake.expireSnapshots("observations", keepLast = 2)
    val e = intercept[IllegalArgumentException] {
      lake.load("observations", 1).count()
    }
    assert(e.getMessage.contains("expireSnapshots"))
    assert(lake.load("observations", 4).count() == lake.observations.count())
    // unknown version names the available range
    val e2 = intercept[IllegalArgumentException] {
      lake.load("observations", 99)
    }
    assert(e2.getMessage.contains("v99"))
  }

  test("CDC: incrementalRead over appends, changeDiff across rewrites, " +
      "rollback as a new commit") {
    val wh = tmpDir("wh-cdc")
    val lake = new Lakehouse(spark, wh)
    val obs = Fixtures.observations
    // partitioned reads surface partition columns LAST; sort columns
    // by name so fixture-vs-lakehouse comparisons are order-free
    def canon(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.filterNot(_ == "created_at").sorted.toSeq
      df.select(cols.map(col): _*)
        .orderBy("step_id", "implementation_id", "test_id")
        .collect().toSeq
    }
    // v1..v3: three append slices
    lake.append("observations", obs.filter(col("step_id") === 0),
      Schemas.observations)
    lake.append("observations", obs.filter(col("step_id") === 1),
      Schemas.observations)
    lake.append("observations", obs.filter(col("step_id") > 1),
      Schemas.observations)
    assert(lake.manifestOp("observations", 2) == "append")
    // the incremental scan reads ONLY the new files' rows
    assert(canon(lake.incrementalRead("observations", 1, 3)) ==
      canon(obs.filter(col("step_id") >= 1)))
    // fromV = 0 means the full toV snapshot
    assert(canon(lake.incrementalRead("observations", 0, 2)) ==
      canon(obs.filter(col("step_id") <= 1)))
    // changeDiff on an append interval: pure inserts
    val d12 = lake.changeDiff("observations", 1, 2)
    assert(d12.filter(col("_change") =!= "insert").count() == 0)
    assert(canon(d12.drop("_change")) ==
      canon(obs.filter(col("step_id") === 1)))
    // v4: destructive delete — incrementalRead refuses loudly
    lake.deleteWhere("observations",
      col("step_id") === 0)
    val e = intercept[IllegalArgumentException] {
      lake.incrementalRead("observations", 3, 4)
    }
    assert(e.getMessage.contains("deleteWhere") &&
      e.getMessage.contains("changeDiff"))
    // ...but changeDiff reports the deletion exactly
    val d34 = lake.changeDiff("observations", 3, 4)
    assert(d34.filter(col("_change") =!= "delete").count() == 0)
    assert(canon(d34.drop("_change")) ==
      canon(obs.filter(col("step_id") === 0)))
    // the COUNT form carries the same bag diff as the row form on
    // every interval so far: expanding counts ≡ grouping rows
    Seq((1, 2), (3, 4), (2, 4)).foreach { case (f, t) =>
      val viaRows = lake.changeDiff("observations", f, t)
        .groupBy(lake.changeDiff("observations", f, t).columns
          .map(col).toSeq: _*)
        .agg(count(lit(1)).as("n"))
      val viaCounts = lake.changeDiffCounts("observations", f, t)
      val cols = viaCounts.columns.sorted.toSeq
      def c(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.map(col): _*).collect()
          .map(_.toString).sorted.toSeq
      assert(c(viaRows) == c(viaCounts), s"v$f..v$t diff forms differ")
      // and the counts form must not plan a ReplicateRows expansion
      assert(!viaCounts.queryExecution.executedPlan.toString
        .toLowerCase.contains("replicaterows"))
    }
    // v5: compaction rewrites files but changes no rows — empty diff
    lake.compact("observations")
    assert(lake.changeDiff("observations", 4, 5).count() == 0)
    assert(lake.changeDiffCounts("observations", 4, 5).count() == 0)
    // the append-only check is on the INTERVAL, not what came after:
    // v1->v2 stays incrementally readable after the compaction
    // replaced its files (they stay on disk until expireSnapshots)
    assert(canon(lake.incrementalRead("observations", 1, 2)) ==
      canon(obs.filter(col("step_id") === 1)))
    // v6: roll back to the pre-delete snapshot; history is preserved
    val v6 = lake.rollbackTo("observations", 3)
    assert(v6 == 6)
    assert(lake.manifestOp("observations", 6) == "rollback-to-v3")
    assert(canon(lake.observations) == canon(obs))
    assert(lake.load("observations", 4)
      .filter(col("step_id") === 0).count() == 0)
    assert(lake.load("observations", 5).count() ==
      lake.load("observations", 4).count())
  }

  test("materialized stats: incremental over appends, full fallback " +
      "across deletes, signature guard") {
    val wh = tmpDir("wh-mv")
    val lake = new Lakehouse(spark, wh)
    val obs = Fixtures.observations
    val keys = Seq("implementation_id")
    def oneShot() = graft.ops.IncrementalAgg
      .statsOf(lake.observations, keys, "execution_time_ms")
      .orderBy("implementation_id").collect().toSeq
    lake.append("observations", obs.filter(col("step_id") === 0),
      Schemas.observations)
    assert(lake.refreshStats("mv", "observations", keys, "execution_time_ms")
      == lake.RefreshFull)
    assert(lake.statsVersion("mv") == 1)
    // append-only interval: refresh takes the DELTA path and the
    // merged state is bit-identical to the one-shot recompute
    lake.append("observations", obs.filter(col("step_id") > 0),
      Schemas.observations)
    assert(lake.refreshStats("mv", "observations", keys, "execution_time_ms")
      == lake.RefreshIncremental)
    assert(lake.readStats("mv").orderBy("implementation_id")
      .collect().toSeq == oneShot())
    // already current: noop
    assert(lake.refreshStats("mv", "observations", keys, "execution_time_ms")
      == lake.RefreshNoop)
    // a delete makes merge impossible: full-recompute fallback
    lake.deleteWhere("observations",
      col("implementation_id") === "i1")
    assert(lake.refreshStats("mv", "observations", keys, "execution_time_ms")
      == lake.RefreshFull)
    assert(lake.readStats("mv").orderBy("implementation_id")
      .collect().toSeq == oneShot())
    assert(lake.readStats("mv")
      .filter(col("implementation_id") === "i1").count() == 0)
    // refreshing the same view under a different signature fails loudly
    val e = intercept[IllegalArgumentException] {
      lake.refreshStats("mv", "observations", keys, "memory_used_mb")
    }
    assert(e.getMessage.contains("signature mismatch"))
    // unrefreshed view reads fail loudly
    val e2 = intercept[IllegalArgumentException] { lake.readStats("mv2") }
    assert(e2.getMessage.contains("never refreshed"))
  }

  test("empty table reads as an empty typed frame, not a crash") {
    // an export with no metadata rows appends ZERO code/tests rows; the
    // table dir then has no data files and schema inference would fail —
    // known tables must fall back to their declared schema (the
    // table-format behavior), and lake.query must keep working
    val wh = tmpDir("wh-empty")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", Fixtures.observations, Schemas.observations)
    lake.append("tests",
      Fixtures.observations.filter(lit(false))
        .select(col("data_set_id"), col("problem_id"),
          col("test_id"), col("output").as("source_code"),
          col("operation").as("focal_interface"),
          col("implementation_hash").as("code_hash"),
          col("created_at"), lit("java").as("language")),
      Schemas.tests)
    val t = lake.load("tests")
    assert(t.schema == Schemas.tests)
    assert(t.count() == 0)
    // the query API registers all tables including the empty one
    assert(lake.query(
      "SELECT COUNT(*) AS n FROM observations").collect().head.getLong(0)
      == 12)
    assert(lake.query("SELECT COUNT(*) AS n FROM tests")
      .collect().head.getLong(0) == 0)
  }

  test("upsert interleaved with a reader: old-or-new per partition, never partial") {
    // a handle opened before the upsert keeps reading its own snapshot:
    // the upsert commits a new manifest and moves or deletes no file,
    // so the old handle sees every partition fully old, never a
    // partial/mixed partition. Untouched partitions are never affected.
    val wh = tmpDir("wh-rd")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", Fixtures.observations, Schemas.observations)
    lake.append("observations",
      Fixtures.observations.withColumn("problem_id", lit("p2")),
      Schemas.observations)
    val keys = Seq("data_set_id", "problem_id", "implementation_id",
      "test_id", "run_id", "environment_id", "step_id")

    // reader opens a handle BEFORE the upsert (simulating in-flight work)
    val staleHandle = lake.observations
    val p2Before = staleHandle.filter(col("problem_id") === "p2")
      .drop("created_at").collect().map(_.toSeq).toSet
    val p1Old = staleHandle.filter(col("problem_id") === "p1")
      .drop("created_at").collect().map(_.toSeq).toSet

    // upsert touches ONLY p1: one replaced row + one inserted row
    val base = Fixtures.observations.limit(1)
    lake.upsert("observations",
      base.withColumn("output", lit("UPD"))
        .union(base.withColumn("step_id", lit(99))
          .withColumn("output", lit("NEW"))), keys)

    // untouched partition: the PRE-upsert handle still reads p2 intact
    // (its files were never rewritten)
    assert(staleHandle.filter(col("problem_id") === "p2")
      .drop("created_at").collect().map(_.toSeq).toSet == p2Before)

    // fresh handle: p1 is fully-new (replaced + inserted visible)
    val p1New = lake.observations.filter(col("problem_id") === "p1")
      .drop("created_at").collect().map(_.toSeq).toSet
    assert(p1New.size == p1Old.size + 1)
    assert(lake.observations.filter(col("problem_id") === "p1" &&
      col("output").isin("UPD", "NEW")).count() == 2)

    // stale handle on the REWRITTEN partition: its own (old) snapshot
    val seen = staleHandle.filter(col("problem_id") === "p1")
      .drop("created_at").collect().map(_.toSeq).toSet
    assert(seen == p1Old, "stale reader did not read its own snapshot")
  }

  test("clustered ingest append: identical contents, single exchange") {
    import graft.ingest.ArenaIngest
    // contents parity: clustered single-shuffle path == default path
    val whA = tmpDir("whA"); val whB = tmpDir("whB")
    val lakeA = new Lakehouse(spark, whA)
    val lakeB = new Lakehouse(spark, whB)
    val sort = Seq("implementation_id", "test_id", "step_id")
    lakeA.append("observations",
      ArenaIngest.observationsFromArena(Fixtures.rawArena, "DS"),
      Schemas.observations, sortCols = sort)
    lakeB.append("observations",
      ArenaIngest.observationsFromArena(
        ArenaIngest.clusterByProblem(Fixtures.rawArena), "DS"),
      Schemas.observations, sortCols = sort, clustered = true)
    val a = lakeA.observations.drop("created_at")
    val b = lakeB.observations.drop("created_at")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // plan shape: exactly one exchange — clusterByProblem's hash
    // partitioning on ABSTRACTIONID (a subset of the regroup keys)
    // satisfies the aggregation's distribution requirement
    val plan = ArenaIngest.observationsFromArena(
        ArenaIngest.clusterByProblem(Fixtures.rawArena), "DS")
      .queryExecution.executedPlan.toString
    assert("(?i)exchange".r.findAllIn(plan).size == 1, plan)
  }
}
