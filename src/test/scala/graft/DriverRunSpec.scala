package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import graft.lake.Lakehouse
import graft.metrics.JobCounter
import graft.plans.ResultCollectExec
import graft.queries.CanonicalQueries
import graft.schema.Schemas

/** `ResultCollectExec` computes a small local read on the calling thread
  * (the driver run) and everything else with one job. Both paths give the
  * same rows, byte for byte and in order; the gate sends each kind of
  * input the right way; and a driver run leaves what a task leaves:
  * metrics, input file names, no block lock and no leaked memory. */
class DriverRunSpec extends SparkSpec {
  private val Ds = "HumanEval"
  private val kinds = Seq("srm", "clustering", "join")

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The interactive profile's AQE setting. */
  private def interactive[T](body: => T): T =
    withConf("spark.sql.adaptive.enabled", "false")(body)

  /** A lake holding the fixtures as problem p1 (i3 divergent) and p2
    * (i3 behaving like i1 and i2). */
  private lazy val tables: Seq[DataFrame] = {
    val lake = new Lakehouse(spark, tmpDir("wh-driver-run"))
    def p2(df: DataFrame) = df.withColumn("problem_id", lit("p2"))
    val obs = Fixtures.observations
    lake.append("observations", obs.union(p2(obs).withColumn("output",
      when(col("output") === "X", "d").otherwise(col("output")))),
      Schemas.observations)
    lake.append("code_implementations", Fixtures.code.union(p2(Fixtures.code)),
      Schemas.codeImplementations)
    lake.append("tests", Fixtures.tests.union(p2(Fixtures.tests)),
      Schemas.tests)
    Seq(lake.observations, lake.codeImplementations, lake.tests)
  }

  private def query(kind: String, p: String): DataFrame = {
    val Seq(o, c, t) = tables.map(table => CanonicalQueries.interactive(
      table.filter(col("data_set_id") === Ds && col("problem_id") === p)))
    kind match {
      case "srm" => CanonicalQueries.srmOutputView(o, Seq("i1", "i2", "i3"))
      case "clustering" => CanonicalQueries.behavioralClustering(o)
      case "join" => CanonicalQueries.threeWayJoin(o, c, t)
    }
  }

  private def root(df: DataFrame): ResultCollectExec =
    df.queryExecution.executedPlan match {
      case rc: ResultCollectExec => rc
      case other => fail(s"not collected through the node:\n$other")
    }

  /** The node under each broadcast of `plan`. */
  private def broadcastSides(plan: SparkPlan): Seq[ResultCollectExec] =
    plan.collect { case b: BroadcastExchangeExec => b.child }.map {
      case rc: ResultCollectExec => rc
      case other => fail(s"broadcast child is not the node:\n$other")
    }

  /** `executeCollectIterator` is private[spark]; it is public bytecode. */
  private def collectIterator(p: SparkPlan): (Long, Seq[InternalRow]) = {
    val (n, it) = p.getClass.getMethod("executeCollectIterator").invoke(p)
      .asInstanceOf[(Long, Iterator[InternalRow])]
    (n, it.toSeq)
  }

  /** Collects `rc` through the driver run or the job, and the jobs that
    * collect started. */
  private def collectVia(rc: ResultCollectExec, driver: Boolean)
      : ((Long, Seq[InternalRow]), Int) = {
    val jobs = new JobCounter(spark.sparkContext)
    rc.forcePath = Some(driver)
    try {
      val got = jobs.tagged("collect")(collectIterator(rc))
      (got, jobs.counts().getOrElse("collect", 0))
    } finally {
      rc.forcePath = None
      jobs.close()
    }
  }

  /** The same executed node collected through the driver run (which must
    * start no job and return rows) and through the job: the same count and
    * the same `UnsafeRow` bytes in the same order. */
  private def assertSamePaths(rc: ResultCollectExec, what: String)
      : Seq[InternalRow] = {
    assert(rc.gateAdmits, s"$what: the gate sends it to the job:\n$rc")
    val ((dn, driverRows), driverJobs) = collectVia(rc, driver = true)
    assert(driverJobs == 0, s"$what: the driver run started a job")
    assert(rc.driverRun.nonEmpty, s"$what: the driver run fell back")
    val ((jn, jobRows), jobJobs) = collectVia(rc, driver = false)
    assert(jobJobs == 1, s"$what: $jobJobs jobs on the job path")
    assert(dn == jn && dn == driverRows.size, what)
    assert(driverRows == jobRows, s"$what: rows differ between the paths")
    driverRows
  }

  /** `df` written as one Parquet file under a new directory, read back. */
  private def parquet(df: DataFrame, files: Int = 1): (String, DataFrame) = {
    val dir = tmpDir("driver-run") + "/t"
    df.repartition(files).write.parquet(dir)
    (dir, spark.read.parquet(dir))
  }

  private def dataFiles(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq
    finally s.close()
  }

  test("the driver run and the job give the same rows for the SRM, " +
      "clustering and join roots and both join broadcasts") {
    interactive {
      for (kind <- kinds; p <- Seq("p1", "p2")) {
        val rc = root(query(kind, p))
        val rows = assertSamePaths(rc, s"$kind $p")
        assert(rows.nonEmpty, s"$kind $p")
        val sides = broadcastSides(rc)
        assert(sides.size == (if (kind == "join") 2 else 0), rc)
        sides.foreach(s => assert(assertSamePaths(s, s"$kind $p side")
          .nonEmpty))
      }
    }
  }

  test("the driver run reads NULLs and struct, array and map columns " +
      "from Parquet as the job does") {
    interactive {
      val (_, df) = parquet(spark.range(0, 300, 1, 1).select(
        col("id"),
        when(col("id") % 4 === 0, lit(null))
          .otherwise(col("id").cast("string")).as("s"),
        struct(col("id").as("a"),
          when(col("id") % 5 === 0, lit(null)).otherwise(lit("x")).as("b"))
          .as("st"),
        when(col("id") % 6 === 0, lit(null))
          .otherwise(array(col("id"), lit(null).cast("long"))).as("arr"),
        map(col("id").cast("string"), array(lit(1.5), lit(null))).as("m")))
      val q = df.filter(col("id") >= 100)
      val rows = assertSamePaths(root(q), "nested")
      assert(rows.size == 200)
      val got = q.collect().sortBy(_.getLong(0))
      assert(got.head.getLong(0) == 100 && got.head.isNullAt(1))
      assert(got.head.getStruct(2).isNullAt(1))
      assert(got(2).isNullAt(3) && got(1).getSeq[Any](3) == Seq(101L, null))
      assert(got(1).getMap[String, scala.collection.Seq[Any]](4)("101")
        .toSeq == Seq(1.5, null))
    }
  }

  test("an empty pruned partition is a 0-row broadcast on both paths") {
    interactive {
      val rc = root(query("join", "no-such-problem"))
      val sides = broadcastSides(rc)
      assert(sides.size == 2, rc)
      sides.foreach(s => assert(assertSamePaths(s, "empty side").isEmpty))
      assert(assertSamePaths(rc, "empty join").isEmpty)
    }
  }

  test("the gate sends multi-partition, shuffled, non-file and " +
      "over-threshold reads to the job") {
    interactive {
      val (_, one) = parquet(spark.range(0, 100, 1, 1).toDF("id"))
      val plain = one.select((col("id") * 2).as("x"))
      // the control: the same file read, as it is, is admitted
      assert(root(plain).gateAdmits, plain.queryExecution.executedPlan)
      val (_, two) = parquet(spark.range(0, 100, 1, 2).toDF("id"), files = 2)
      val cached = one.select((col("id") + 1).as("y")).cache()
      cached.count()
      val jobOnly = Seq(
        "2 partitions" -> two.select((col("id") * 2).as("x")),
        "a shuffle" -> one.repartition(1, col("id"))
          .select((col("id") * 2).as("x")),
        "spark.range" -> spark.range(0, 100, 1, 1)
          .select((col("id") * 2).as("x")),
        "a cached leaf" -> cached.select((col("y") * 2).as("x")))
      // one file per partition, however small
      try withConf("spark.sql.files.openCostInBytes", (128L << 20).toString) {
        assert(jobOnly.head._2.queryExecution.executedPlan.execute()
          .getNumPartitions == 2)
        jobOnly.foreach { case (what, df) =>
          val rc = root(df)
          assert(!rc.gateAdmits, s"$what:\n$rc")
          val jobs = new JobCounter(spark.sparkContext)
          try {
            jobs.tagged("collect")(df.collect())
            assert(jobs.counts().getOrElse("collect", 0) >= 1, what)
          } finally jobs.close()
        }
      } finally cached.unpersist()
      Seq("10", "-1").foreach { limit =>
        withConf("spark.sql.autoBroadcastJoinThreshold", limit) {
          val df = one.select((col("id") * 2).as("x"))
          assert(!root(df).gateAdmits, s"threshold $limit")
          assert(df.collect().length == 100)
        }
      }
    }
  }

  test("a driver run's scan metrics equal the job's") {
    interactive {
      def scanMetrics(kind: String, driver: Boolean): Seq[(Long, Long)] = {
        val rc = root(query(kind, "p1"))
        rc.forcePath = Some(driver)
        collectIterator(rc)
        val scans = rc.collect { case s: FileSourceScanExec => s }
        assert(scans.nonEmpty, rc)
        scans.map(s => (s.metrics("numOutputRows").value,
          s.metrics("numFiles").value))
      }
      kinds.foreach { kind =>
        val driver = scanMetrics(kind, driver = true)
        assert(driver.forall(_._1 > 0), s"$kind: $driver")
        assert(driver == scanMetrics(kind, driver = false), kind)
      }
    }
  }

  test("input_file_name() names the file a driver run read") {
    interactive {
      val (dir, df) = parquet(spark.range(0, 50, 1, 1).toDF("id"))
      val Seq(file) = dataFiles(dir)
      val q = df.select(input_file_name().as("f"))
      val rows = assertSamePaths(root(q), "input_file_name")
      assert(rows.size == 50)
      val names = q.collect().map(_.getString(0)).distinct
      assert(names.length == 1 && names.head.endsWith(s"/$file"),
        names.toSeq)
    }
  }

  test("a driver run holds no block lock and leaks no task memory") {
    interactive {
      val env = SparkEnv.get
      // the block manager's task registry is private[spark]
      val blocks = env.getClass.getMethod("blockManager").invoke(env)
      val info = blocks.getClass.getMethod("blockInfoManager").invoke(blocks)
      val lockCount = info.getClass
        .getMethod("getTaskLockCount", classOf[Long])
      kinds.foreach { kind =>
        val rc = root(query(kind, "p1"))
        assert(rc.gateAdmits, kind)
        rc.executeCollect()
        // the join's root reads both broadcasts under its own attempt
        val Some((attempt, leaked)) = rc.driverRun
        assert(attempt < -1024L, kind)
        assert(lockCount.invoke(info, Long.box(attempt)) == 0, kind)
        assert(leaked == 0L, kind)
        broadcastSides(rc).foreach(s => assert(s.driverRun.exists(_._2 == 0)))
      }
    }
  }

  test("warm per-problem queries start no Spark job") {
    interactive {
      kinds.foreach(query(_, "p1").collect()) // plans each shape once
      val jobs = new JobCounter(spark.sparkContext)
      try {
        for (kind <- kinds; p <- Seq("p1", "p2", "p1"))
          jobs.tagged(kind)(assert(query(kind, p).collect().nonEmpty))
        val n = jobs.counts()
        kinds.foreach(k => assert(n.getOrElse(k, 0) == 0, s"$k: $n"))
      } finally jobs.close()
    }
  }
}
