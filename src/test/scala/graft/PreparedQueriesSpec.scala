package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{FileSourceScanExec,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.functions._
import graft.lake.Lakehouse
import graft.plans.{PreparedPlan, PreparedPlans}
import graft.queries.CanonicalQueries
import graft.schema.Schemas

/** The per-problem builders plan each query shape once and bind every
  * call's partition values: the rows are the plain build's, the scan is
  * pruned to the bound problem, and anything that changes the query
  * (a re-opened table, a SQL conf, a literal that is not a partition
  * value) builds a new plan. */
class PreparedQueriesSpec extends SparkSpec {
  private val Ds = "HumanEval"
  private val problems = Seq("p1", "p2", "p3")
  private val kinds = Seq("srm", "clustering", "join")

  /** Implementations of each problem: p3 has no i2. */
  private def impls(p: String): Seq[String] =
    if (p == "p3") Seq("i1", "i3") else Seq("i1", "i2", "i3")

  /** A fixture table moved to problem `p`: p1 as it is, p2 with i3 behaving
    * like i1 and i2 (one cluster), p3 without i2. */
  private def forProblem(df: DataFrame, p: String): DataFrame = {
    val moved = df.withColumn("problem_id", lit(p))
    p match {
      case "p2" if df.columns.contains("output") =>
        moved.withColumn("output",
          when(col("output") === "X", "d").otherwise(col("output")))
      case "p3" if df.columns.contains("implementation_id") =>
        moved.filter(col("implementation_id") =!= "i2")
      case _ => moved
    }
  }

  private def openLake(): Lakehouse = {
    val lake = new Lakehouse(spark, tmpDir("wh-prepared"))
    def all(df: DataFrame) = problems.map(forProblem(df, _)).reduce(_ union _)
    lake.append("observations", all(Fixtures.observations),
      Schemas.observations)
    lake.append("code_implementations", all(Fixtures.code),
      Schemas.codeImplementations)
    lake.append("tests", all(Fixtures.tests), Schemas.tests)
    lake
  }

  private def tablesOf(lake: Lakehouse): Seq[DataFrame] =
    Seq(lake.observations, lake.codeImplementations, lake.tests)

  /** One problem's partition of `t`, as the interactive path reads it. */
  private def partition(t: DataFrame, p: String): DataFrame =
    CanonicalQueries.interactive(
      t.filter(col("data_set_id") === Ds && col("problem_id") === p))

  private def pruned(tables: Seq[DataFrame], p: String): Seq[DataFrame] =
    tables.map(partition(_, p))

  private def run(kind: String, in: Seq[DataFrame], p: String): DataFrame =
    kind match {
      case "srm" => CanonicalQueries.srmOutputView(in.head, impls(p))
      case "clustering" => CanonicalQueries.behavioralClustering(in.head)
      case "join" => CanonicalQueries.threeWayJoin(in(0), in(1), in(2))
    }

  /** The plain Dataset build of the same query (SRM: the pivot form,
    * bit-identical by `CanonicalQueriesSpec`). */
  private def plain(kind: String, in: Seq[DataFrame], p: String): DataFrame =
    kind match {
      case "srm" => CanonicalQueries.srmOutputViewPivot(in.head, impls(p))
      case "clustering" =>
        CanonicalQueries.behavioralClusteringPlain(in.head)
      case "join" =>
        CanonicalQueries.threeWayJoinPlain(in(0), in(1), in(2))
    }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def isPrepared(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[PreparedPlan]

  /** `body`'s value, and the plans built and kept plans reused in it. */
  private def counted[T](body: => T): (T, Long, Long) = {
    val (b0, r0) = PreparedPlans.counts
    val t = body
    val (b1, r1) = PreparedPlans.counts
    (t, b1 - b0, r1 - r0)
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The interactive profile's AQE setting, under which plans are kept. */
  private def interactive[T](body: => T): T =
    withConf("spark.sql.adaptive.enabled", "false")(body)

  test("every problem's rows equal the plain build, on the call that " +
      "plans and on every call after it") {
    interactive {
      val tables = tablesOf(openLake())
      for (round <- 0 until 2; p <- problems; kind <- kinds) {
        val in = pruned(tables, p)
        val (df, built, reused) = counted(run(kind, in, p))
        val what = s"$kind $p round $round"
        assert(isPrepared(df), what)
        val first = round == 0 && p == problems.head
        assert((built, reused) == (if (first) (1, 0) else (0, 1)), what)
        val want = plain(kind, in, p)
        assert(df.columns.toSeq == want.columns.toSeq, what)
        assert(rows(df) == rows(want), what)
      }
      // the problems differ, so a wrongly bound plan would show
      val clusters = problems.map(p =>
        rows(run("clustering", pruned(tables, p), p)))
      assert(clusters.distinct.size == problems.size, clusters)
    }
  }

  test("SRM: one kept plan serves problems with different column sets") {
    interactive {
      val tables = tablesOf(openLake())
      val calls = Seq("p1" -> Seq("i1", "i2", "i3"),
        "p3" -> Seq("i3", "i1", "i9"), "p2" -> Seq("i2"))
      val counts = calls.map { case (p, cols) =>
        val obs = partition(tables.head, p)
        val (df, built, reused) =
          counted(CanonicalQueries.srmOutputView(obs, cols))
        val want = CanonicalQueries.srmOutputViewPivot(obs, cols)
        assert(df.columns.toSeq == "test_id" +: "step_id" +: cols, p)
        assert(df.columns.toSeq == want.columns.toSeq, p)
        assert(rows(df) == rows(want), p)
        (built, reused)
      }
      assert(counts == Seq((1, 0), (0, 1), (0, 1)))
    }
  }

  test("a bound plan's scans prune to its problem's partition") {
    interactive {
      val tables = tablesOf(openLake())
      kinds.foreach(k => run(k, pruned(tables, "p1"), "p1").collect())
      kinds.foreach { kind =>
        val in = pruned(tables, "p2")
        val df = run(kind, in, "p2")
        val plan = df.queryExecution.executedPlan
        val scans = plan.collect { case s: FileSourceScanExec => s }
        assert(scans.size == (if (kind == "join") 3 else 1), plan)
        def values(s: FileSourceScanExec) = s.partitionFilters.flatMap(
          _.collect { case Literal(v, _) if v != null => v.toString })
        scans.foreach { s =>
          assert(values(s).contains("p2"), s)
          assert(!values(s).exists(_.contains("graft-param")), s)
          val files = s.inputRDDs().flatMap {
            case r: FileScanRDD =>
              r.filePartitions.flatMap(_.files.map(_.filePath.toString))
            case other => fail(s"not a file scan: $other")
          }
          assert(files.nonEmpty, s)
          assert(files.forall(_.contains("/problem_id=p2/")), files)
        }
        assert(rows(df) == rows(plain(kind, in, "p2")), kind)
      }
    }
  }

  test("re-opening a table after an append builds a new plan over the " +
      "new rows") {
    interactive {
      val lake = openLake()
      val before = lake.observations
      def clusters(obs: DataFrame) = counted(
        CanonicalQueries.behavioralClustering(partition(obs, "p1")))
      val (old, b1, _) = clusters(before)
      val oldRows = rows(old)
      lake.append("observations", Fixtures.observations
        .filter(col("implementation_id") === "i3")
        .withColumn("implementation_id", lit("i4")), Schemas.observations)
      val after = lake.observations
      val (now, b2, r2) = clusters(after)
      assert((b1, b2, r2) == (1, 1, 0))
      assert(rows(now) == rows(CanonicalQueries.behavioralClusteringPlain(
        partition(after, "p1"))))
      assert(now.collect().exists(_.getAs[scala.collection.Seq[String]](
        "implementations").toSeq == Seq("i3", "i4")))
      // the table opened before the append keeps its snapshot and plan
      val (again, b3, r3) = clusters(before)
      assert((b3, r3) == (0, 1))
      assert(rows(again) == oldRows)
    }
  }

  test("a changed SQL conf builds a new plan") {
    interactive {
      val obs = partition(openLake().observations, "p1")
      def call() = counted(CanonicalQueries.behavioralClustering(obs))
      val (a, b1, _) = call()
      val (b, b2, r2) = withConf("spark.sql.shuffle.partitions", "3")(call())
      val (_, b3, r3) = call()
      assert((b1, b2, r2, b3, r3) == (1, 1, 0, 0, 1))
      assert(rows(a) == rows(b))
    }
  }

  test("a null, a non-partition literal, equal parameters and a " +
      "partition column compared with a literal are part of the key") {
    interactive {
      val tables = tablesOf(openLake())
      val obs = tables.head
      def clusters(pred: org.apache.spark.sql.Column) = {
        val in = CanonicalQueries.interactive(obs.filter(pred))
        val (df, built, reused) =
          counted(CanonicalQueries.behavioralClustering(in))
        assert(isPrepared(df))
        assert(rows(df) == rows(
          CanonicalQueries.behavioralClusteringPlain(in)))
        (rows(df), built, reused)
      }
      val ds = col("data_set_id") === Ds
      def problem(p: String) = col("problem_id") === p
      val noProblem = ds && col("problem_id") === typedLit[String](null)
      val (none, nb1, _) = clusters(noProblem)
      val (_, nb2, nr2) = clusters(noProblem)
      assert(none.isEmpty && (nb1, nb2, nr2) == (1, 0, 1))
      assert(clusters(ds && problem("p1"))._2 == 1)
      // a literal on a column that is not a partition column
      def oneImpl(p: String, impl: String) =
        clusters(ds && problem(p) && col("implementation_id") === impl)
      val (x, xb, _) = oneImpl("p1", "i1")
      val (y, yb, yr) = oneImpl("p2", "i1")
      val (z, zb, _) = oneImpl("p1", "i3")
      assert((xb, yb, yr, zb) == (1, 0, 1, 1))
      assert(x.nonEmpty && y.nonEmpty && z.nonEmpty && x != z)
      // equal values share a placeholder: a new shape, not the p1 plan
      val same = col("data_set_id") === "p1" && problem("p1")
      val (empty, eb, er) = clusters(same)
      assert(empty.isEmpty && (eb, er) == (1, 0))
      // a partition column compared with another literal: its values are
      // not parameters (a placeholder would fold `> 'p1'` differently)
      def above(p: String) = clusters(ds && problem(p) &&
        col("problem_id") > "p1")
      val (a2, ab2, _) = above("p2")
      val (a3, ab3, ar3) = above("p3")
      val (a1, ab1, _) = above("p1")
      assert((ab2, ab3, ar3, ab1) == (1, 1, 0, 1))
      assert(a2.nonEmpty && a3.nonEmpty && a1.isEmpty)
    }
  }

  test("exceptAll and joins of two prepared results") {
    interactive {
      val tables = tablesOf(openLake())
      def cluster(p: String) =
        CanonicalQueries.behavioralClustering(partition(tables.head, p))
      def plainCluster(p: String) = CanonicalQueries
        .behavioralClusteringPlain(partition(tables.head, p))
      assert(cluster("p1").exceptAll(cluster("p1")).isEmpty)
      assert(sorted(cluster("p1").exceptAll(cluster("p2"))) ==
        sorted(plainCluster("p1").exceptAll(plainCluster("p2"))))
      assert(sorted(cluster("p1").join(cluster("p2"), "cluster_size")) ==
        sorted(plainCluster("p1").join(plainCluster("p2"), "cluster_size")))
      val srm = Seq("p1", "p3").map(p =>
        run("srm", pruned(tables, p), p).drop("i1", "i2")
          .withColumnRenamed("i3", s"i3_$p"))
      val srmPlain = Seq("p1", "p3").map(p =>
        plain("srm", pruned(tables, p), p).drop("i1", "i2")
          .withColumnRenamed("i3", s"i3_$p"))
      assert(sorted(srm(0).join(srm(1), Seq("test_id", "step_id"))) ==
        sorted(srmPlain(0).join(srmPlain(1), Seq("test_id", "step_id"))))
    }
  }

  test("a repeat call runs under a third of a fresh build's analyzer " +
      "and optimizer rules") {
    interactive {
      val tables = tablesOf(openLake())
      def ruleRuns(body: => Any): Long = {
        RuleExecutor.resetMetrics()
        body
        RuleExecutor.getCurrentMetrics().numRuns
      }
      kinds.foreach { kind =>
        run(kind, pruned(tables, "p1"), "p1")
        val in = pruned(tables, "p2")
        // AQE on: the same builder's plain branch
        val fresh = withConf("spark.sql.adaptive.enabled", "true")(
          ruleRuns(run(kind, in, "p2").queryExecution.optimizedPlan))
        val repeat = ruleRuns(run(kind, in, "p2").queryExecution.optimizedPlan)
        assert(repeat * 3 < fresh, s"$kind: $repeat vs $fresh rule runs")
      }
    }
  }

  test("with AQE on, the builders build plainly") {
    val tables = tablesOf(openLake())
    withConf("spark.sql.adaptive.enabled", "true") {
      kinds.foreach { kind =>
        val in = pruned(tables, "p1")
        val (df, built, reused) = counted(run(kind, in, "p1"))
        assert(!isPrepared(df) && built == 0 && reused == 0, kind)
        assert(rows(df) == rows(plain(kind, in, "p1")), kind)
      }
    }
  }

  test("whole-stage codegen builds a per-problem collect's RDDs without " +
      "a closure-cleaned MapPartitionsRDD") {
    interactive {
      val tables = tablesOf(openLake())
      kinds.foreach { kind =>
        val plan = run(kind, pruned(tables, "p1"), "p1")
          .queryExecution.executedPlan
        val stages = plan.collect { case w: WholeStageCodegenExec => w }
        assert(stages.nonEmpty, plan)
        // `mapPartitionsWithIndex` (a `MapPartitionsRDD`) cleans its
        // closure on every execution; the evaluator form does not
        stages.foreach(w => assert(w.execute().getClass.getName ==
          "org.apache.spark.rdd.MapPartitionsWithEvaluatorRDD", s"$kind: $w"))
      }
    }
  }
}
