package graft

import graft.queries.CanonicalQueries

/** FIXTURES.md §A4 expectations: clusters [{i1,i2},{i3}], consensus =
  * the {i1,i2} cluster, SRM pivot 4 rows × (2+3) cols, three-way join
  * 12 rows. */
class CanonicalQueriesSpec extends SparkSpec {

  test("behavioral clustering groups identical traces") {
    val out = CanonicalQueries.behavioralClustering(Fixtures.observations)
      .collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("cluster_size") == 2)
    assert(out(0).getAs[scala.collection.Seq[String]]("implementations").toSeq == Seq("i1", "i2"))
    assert(out(1).getAs[scala.collection.Seq[String]]("implementations").toSeq == Seq("i3"))
  }

  test("fused fingerprint clustering equals the composed pipeline") {
    // whole rows in order: cluster membership, fingerprint_hash VALUES
    // and the equal-size tie order they break
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    Seq(Fixtures.observations, Fixtures.observations.repartition(5))
      .foreach { obs =>
        assert(rows(CanonicalQueries.behavioralClustering(obs)) ==
          rows(CanonicalQueries.behavioralClusteringComposed(obs)))
      }
  }

  test("fused fingerprint merges partial buffers across partitions") {
    // repartition(7) forces partial/merge paths (serialize/deserialize)
    // through the TypedImperativeAggregate; result must be identical to
    // the single-partition run
    val spread = Fixtures.observations.repartition(7)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(CanonicalQueries.behavioralClustering(spread)) ==
      rows(CanonicalQueries.behavioralClustering(
        Fixtures.observations.coalesce(1))))
  }

  test("consensus oracle is the largest cluster") {
    val row = CanonicalQueries.consensusOracle(Fixtures.observations)
      .collect().head
    assert(row.getAs[scala.collection.Seq[String]]("implementations").toSeq == Seq("i1", "i2"))
  }

  test("SRM output view pivots implementations to columns") {
    val m = CanonicalQueries.srmOutputView(Fixtures.observations,
      Seq("i1", "i2", "i3"))
    assert(m.columns.toSeq == Seq("test_id", "step_id", "i1", "i2", "i3"))
    val rows = m.collect()
    assert(rows.length == 4)
    // (t2, step 1): i1=i2=d, i3=X
    val r = rows.find(r => r.getString(0) == "t2" && r.getInt(1) == 1).get
    assert(r.getString(2) == "d" && r.getString(3) == "d" &&
      r.getString(4) == "X")
  }

  test("map-aggregated SRM view is bit-identical to the pivot form") {
    // KeyedMinAgg + element_at vs pivot().agg(min) — same schema, same
    // rows, including the absent-implementation NULL column (i9)
    val impls = Seq("i1", "i2", "i3", "i9")
    val a = CanonicalQueries.srmOutputView(Fixtures.observations, impls)
    val b = CanonicalQueries.srmOutputViewPivot(Fixtures.observations,
      impls)
    assert(a.schema.fieldNames.toSeq == b.schema.fieldNames.toSeq)
    assert(a.collect().map(_.toSeq).toSeq == b.collect().map(_.toSeq).toSeq)
    // ... and across partial-merge boundaries
    val spread = CanonicalQueries.srmOutputView(
      Fixtures.observations.repartition(7), impls)
    assert(spread.collect().map(_.toSeq).toSeq ==
      b.collect().map(_.toSeq).toSeq)
  }

  test("dynamic SRM view discovers the implementation columns") {
    val m = CanonicalQueries.srmOutputViewDynamic(Fixtures.observations)
    assert(m.columns.toSeq == Seq("test_id", "step_id", "i1", "i2", "i3"))
  }

  test("dynamic SRM view fails loudly past the driver-collect cap") {
    // the distinct-impl discovery collect is itself bounded: past
    // maxImpls the call must throw (not OOM the driver), and the
    // message must name the knob
    val spark2 = TestSpark.spark
    import spark2.implicits._
    val obs = (1 to 7).map(i =>
      ("t1", 0, s"i$i", "x")).toDF(
      "test_id", "step_id", "implementation_id", "output")
    val e = intercept[IllegalArgumentException] {
      CanonicalQueries.srmOutputViewDynamic(obs, maxImpls = 5)
    }
    assert(e.getMessage.contains("maxImpls"))
    // at exactly the cap it still succeeds
    val ok = CanonicalQueries.srmOutputViewDynamic(obs, maxImpls = 7)
    assert(ok.columns.length == 2 + 7)
  }

  test("consensus verdicts score impls against majority behavior") {
    val v = CanonicalQueries.consensusVerdicts(Fixtures.observations)
      .collect()
    val byImpl = v.map(r => r.getAs[String]("implementation_id") ->
      r.getAs[Double]("agreement_ratio")).toMap
    // i1/i2 define the consensus (2 votes); i3 diverges on t2 only
    assert(byImpl("i1") == 1.0 && byImpl("i2") == 1.0)
    assert(byImpl("i3") == 0.5)
    assert(v.head.getAs[String]("implementation_id") == "i1")
  }

  test("three-way join reattaches code and test source to each row") {
    val j = CanonicalQueries.threeWayJoin(Fixtures.observations,
      Fixtures.code, Fixtures.tests)
    assert(j.count() == 12)
    assert(j.columns.contains("program_code") &&
      j.columns.contains("test_sheet"))
    val r = j.filter(j("implementation_id") === "i1").collect()
    assert(r.forall(_.getAs[String]("program_code") == "class A {}"))
  }

  test("dataset stats aggregate per-problem counts") {
    val s = CanonicalQueries.datasetStats(Fixtures.observations)
      .collect().head
    assert(s.getAs[Long]("n_problems") == 1)
    assert(s.getAs[Long]("total_implementations") == 3)
    assert(s.getAs[Double]("avg_tests_per_problem") == 2.0)
  }

  test("per-problem stats") {
    val s = CanonicalQueries.perProblemStats(Fixtures.observations)
      .collect().head
    assert(s.getAs[Long]("n_implementations") == 3)
    assert(s.getAs[Long]("n_observations") == 12)
    assert(s.getAs[Double]("max_execution_time_ms") == 1.5)
  }

  test("interactive single-partition path returns batch-identical results") {
    val obs = Fixtures.observations
    val i = CanonicalQueries.interactive(obs)
    // every canonical query: same rows whether the input is declared
    // single-partition (interactive) or left at full parallelism
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
    same(CanonicalQueries.behavioralClustering(i),
      CanonicalQueries.behavioralClustering(obs))
    same(CanonicalQueries.srmOutputView(i, Seq("i1", "i2", "i3")),
      CanonicalQueries.srmOutputView(obs, Seq("i1", "i2", "i3")))
    same(CanonicalQueries.perProblemStats(i),
      CanonicalQueries.perProblemStats(obs))
    same(CanonicalQueries.consensusVerdicts(i),
      CanonicalQueries.consensusVerdicts(obs))
    // and it really is one partition end to end
    assert(CanonicalQueries.behavioralClustering(i).rdd.getNumPartitions
      == 1)
  }
}
