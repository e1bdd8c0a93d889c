package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  Exchange}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.lake.Lakehouse
import graft.plans.{ResultCollect, ResultCollectExec}
import graft.queries.CanonicalQueries
import graft.schema.Schemas

/** Where `ResultCollect` puts [[ResultCollectExec]], and that collecting
  * through it returns exactly what Spark's own collect of the unwrapped
  * child returns: the same rows in the same order, the same failures. */
class ResultCollectSpec extends SparkSpec {

  private def withAqe[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, saved)
  }

  /** Every node of an executed plan, through AQE plans and query stages
    * and into subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => (p.children ++ p.subqueries).flatMap(nodes)
  })

  private def wrappers(p: SparkPlan): Seq[ResultCollectExec] =
    nodes(p).collect { case r: ResultCollectExec => r }

  /** The plan a result is collected from: under AQE the final plan, with
    * its result stage unwrapped. */
  private def resultRoot(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => resultRoot(a.executedPlan)
    case s: QueryStageExec if !s.plan.isInstanceOf[Exchange] =>
      resultRoot(s.plan)
    case other => other
  }

  /** The executed plan of every query `body` ran, in order. Listener
    * events arrive asynchronously, possibly for queries that ended before
    * `body` began, so marked queries run before and after it and the
    * listener is awaited until it has seen the second. */
  private def plansOf(body: => Unit): Seq[SparkPlan] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe)
    }
    val mark = s"mark_${java.util.UUID.randomUUID.toString.take(8)}"
    def isMark(end: Boolean)(qe: QueryExecution) =
      qe.logical.toString.contains(s"${mark}_$end")
    spark.listenerManager.register(listener)
    try {
      spark.sql(s"SELECT '${mark}_false'").collect()
      body
      spark.sql(s"SELECT '${mark}_true'").collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(isMark(true)) &&
          System.nanoTime() < deadline)
        Thread.sleep(1)
      val qes = seen.asScala.toSeq
      assert(qes.exists(isMark(true)), "the marker query was never reported")
      qes.dropWhile(!isMark(false)(_)).drop(1).takeWhile(!isMark(true)(_))
        .map(_.executedPlan)
    } finally spark.listenerManager.unregister(listener)
  }

  /** `executeCollectIterator` is private[spark]; it is public bytecode. */
  private def collectIterator(p: SparkPlan): (Long, Seq[InternalRow]) = {
    val (n, it) = p.getClass.getMethod("executeCollectIterator").invoke(p)
      .asInstanceOf[(Long, Iterator[InternalRow])]
    (n, it.toSeq)
  }

  /** Collects through the node and through Spark's own collect of the
    * child: same rows (byte-equal `UnsafeRow`s), same order. */
  private def assertParity(rc: ResultCollectExec): Seq[InternalRow] = {
    val ours = rc.executeCollect().toSeq
    val theirs = rc.child.executeCollect().toSeq
    assert(ours == theirs,
      s"rows differ from Spark's collect of:\n${rc.child}")
    val (n, it) = collectIterator(rc)
    val (sn, sit) = collectIterator(rc.child)
    assert(n == sn && it == sit && n == ours.size)
    ours
  }

  private def chain(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(_.getClass.getName).toSeq

  private def rootMessage(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
      .getMessage

  private def interactiveTables = Seq(Fixtures.observations,
    Fixtures.code, Fixtures.tests).map(CanonicalQueries.interactive)

  test("the node is the root of the interactive SRM, clustering and " +
      "join plans, and the child of both join broadcasts") {
    withAqe(false) { // the interactive profile
      val Seq(o, c, t) = interactiveTables
      val srm = CanonicalQueries.srmOutputView(o, Seq("i1", "i2", "i3"))
      val cluster = CanonicalQueries.behavioralClustering(o)
      val join = CanonicalQueries.threeWayJoin(o, c, t)
      Seq(srm, cluster, join).foreach { q =>
        val plan = q.queryExecution.executedPlan
        assert(plan.isInstanceOf[ResultCollectExec], plan)
        assert(wrappers(plan.asInstanceOf[ResultCollectExec].child).size ==
          (if (q eq join) 2 else 0), plan)
      }
      val joinPlan = join.queryExecution.executedPlan
      val bcasts = joinPlan.collect { case b: BroadcastExchangeExec => b }
      assert(bcasts.size == 2, joinPlan)
      bcasts.foreach(b =>
        assert(b.child.isInstanceOf[ResultCollectExec], joinPlan))
      assert(join.collect().length == 12)
      assert(srm.collect().length == 4 && cluster.collect().length == 2)
    }
  }

  test("under AQE the final plan carries the node after a collect, and " +
      "count() goes through it") {
    val df = spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count()
    assert(wrappers(df.queryExecution.executedPlan).isEmpty,
      "the initial adaptive plan is wrapped before any stage ran")
    df.collect()
    val root = resultRoot(df.queryExecution.executedPlan)
    assert(root.isInstanceOf[ResultCollectExec],
      df.queryExecution.executedPlan)
    val counted = plansOf {
      assert(spark.range(0, 1000, 1, 4).filter(col("id") % 3 === 0)
        .count() == 334)
    }
    assert(counted.size == 1)
    assert(resultRoot(counted.head).isInstanceOf[ResultCollectExec],
      counted.head)
  }

  test("result jobs keep the caller's call site") {
    // Spark names a job after the first stack frame outside its own
    // packages; the node's frames must not become that frame
    val tag = java.util.UUID.randomUUID.toString
    val names = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test") == tag))
          names.add(e.stageInfos.maxBy(_.stageId).name)
    }
    spark.sparkContext.addSparkListener(listener)
    try withAqe(false) {
      val df = spark.range(0, 10, 1, 2).selectExpr("id * 2 AS x")
      assert(df.queryExecution.executedPlan.isInstanceOf[ResultCollectExec])
      spark.sparkContext.setLocalProperty("graft.test", tag)
      try df.collect() finally
        spark.sparkContext.setLocalProperty("graft.test", null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (names.isEmpty && System.nanoTime() < deadline) Thread.sleep(1)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(names.size == 1, names)
    assert(names.peek.startsWith("collect at ResultCollectSpec.scala"),
      names)
  }

  test("roots that collect their own way, writes, commands and stage " +
      "roots are left alone") {
    val wh = tmpDir("wh")
    val lake = new Lakehouse(spark, wh)
    val local = spark.createDataFrame(Seq((1, "a"), (2, "b")))
    val scan = spark.range(0, 100, 1, 4).toDF("id")
    val plans = Seq(
      "LocalTableScan" -> plansOf(local.collect()),
      "limit(n).collect()" -> plansOf(scan.limit(5).collect()),
      "head" -> plansOf(scan.head(3)),
      "SHOW TABLES" -> plansOf(spark.sql("SHOW TABLES").collect()),
      "Lakehouse.append" -> plansOf(lake.append("observations",
        Fixtures.observations, Schemas.observations)))
    plans.foreach { case (what, ps) =>
      assert(ps.nonEmpty, what)
      // append's own bookkeeping may collect; the write itself must not
      // carry the node
      val checked = if (what == "Lakehouse.append") ps.filter(p =>
        nodes(p).exists(_.nodeName.contains("Write"))) else ps
      assert(checked.nonEmpty, what)
      checked.foreach(p => assert(wrappers(p).isEmpty, s"$what:\n$p"))
    }
    // AdaptiveSparkPlanExec itself, and every AQE stage root
    val grouped = spark.range(0, 100, 1, 4).groupBy(col("id") % 3).count()
    val aqe = grouped.queryExecution.executedPlan
    assert(aqe.isInstanceOf[AdaptiveSparkPlanExec])
    assert(ResultCollect(aqe) eq aqe)
    grouped.collect()
    val stages = nodes(aqe).collect { case s: QueryStageExec => s.plan }
    assert(stages.exists(_.isInstanceOf[Exchange]), aqe)
    stages.filter(_.isInstanceOf[Exchange]).foreach { e =>
      assert(!e.isInstanceOf[ResultCollectExec])
      assert(ResultCollect(e) eq e)
    }
  }

  test("re-optimising never double-wraps") {
    withAqe(false) {
      val Seq(o, c, t) = interactiveTables
      val plan = CanonicalQueries.threeWayJoin(o, c, t)
        .queryExecution.executedPlan
      assert(ResultCollect(plan) eq plan)
      assert(wrappers(plan).size == 3)
    }
    val df = spark.range(0, 200, 1, 4).toDF("id")
      .join(broadcast(spark.range(0, 20, 1, 2).toDF("id")), "id")
      .groupBy(col("id") % 5).count()
    df.collect()
    df.collect() // a second run re-enters the adaptive plan
    val plan = df.queryExecution.executedPlan
    assert(wrappers(plan).size == 2, plan)
    assert(!wrappers(plan).exists(_.child.isInstanceOf[ResultCollectExec]))
  }

  test("parity: a multi-partition orderBy keeps partition order") {
    withAqe(false) {
      val df = spark.range(0, 5000, 1, 8)
        .select(((col("id") * 7919) % 5000).as("k"), col("id"))
        .orderBy("k")
      val rc = df.queryExecution.executedPlan.asInstanceOf[ResultCollectExec]
      assert(rc.child.execute().getNumPartitions > 1)
      val rows = assertParity(rc)
      assert(rows.map(_.getLong(0)) == (0L until 5000L))
    }
    // and through the Dataset under AQE
    val ks = spark.range(0, 5000, 1, 8)
      .select(((col("id") * 7919) % 5000).as("k")).orderBy("k")
      .collect().map(_.getLong(0))
    assert(ks.toSeq == (0L until 5000L))
  }

  test("parity: an empty result and a 0-row broadcast") {
    withAqe(false) {
      val empty = spark.range(0, 100, 1, 4).filter(col("id") < 0)
        .groupBy(col("id") % 3).count()
      val rc = empty.queryExecution.executedPlan
        .asInstanceOf[ResultCollectExec]
      assert(assertParity(rc).isEmpty)
      val join = spark.range(0, 100, 1, 4).toDF("id")
        .join(broadcast(spark.range(0, 10, 1, 2).toDF("id")
          .filter(col("id") < 0)), "id")
      val b = join.queryExecution.executedPlan.collectFirst {
        case b: BroadcastExchangeExec => b
      }.get
      val bc = b.child.asInstanceOf[ResultCollectExec]
      assert(assertParity(bc).isEmpty)
      assert(collectIterator(bc)._1 == 0L)
      assert(join.collect().isEmpty)
    }
  }

  test("parity: NULLs and struct, array and map columns") {
    withAqe(false) {
      val df = spark.range(0, 300, 1, 3).select(
        col("id"),
        when(col("id") % 4 === 0, lit(null))
          .otherwise(col("id").cast("string")).as("s"),
        struct(col("id").as("a"),
          when(col("id") % 5 === 0, lit(null)).otherwise(lit("x")).as("b"))
          .as("st"),
        when(col("id") % 6 === 0, lit(null))
          .otherwise(array(col("id"), lit(null).cast("long"))).as("arr"),
        map(col("id").cast("string"), array(lit(1.5), lit(null))).as("m"))
        .orderBy(col("id").desc)
      val rc = df.queryExecution.executedPlan.asInstanceOf[ResultCollectExec]
      assert(assertParity(rc).size == 300)
      val got = df.collect()
      assert(got.head.getLong(0) == 299 && got.last.isNullAt(1))
      assert(got.last.getStruct(2).getLong(0) == 0 &&
        got.last.getStruct(2).isNullAt(1))
      assert(got.head.getSeq[Any](3) == Seq(299L, null))
      assert(got.head.getMap[String, scala.collection.Seq[Any]](4)("299")
        .toSeq == Seq(1.5, null))
    }
  }

  test("parity: a result above spark.task.maxDirectResultSize comes " +
      "back as an indirect task result") {
    val limit = spark.sparkContext.getConf
      .getSizeAsBytes("spark.task.maxDirectResultSize", "1m")
    val sizes = new ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => sizes.add(m.resultSize))
    }
    withAqe(false) {
      // hex digests barely compress: one partition of ~4 MB encoded
      val df = spark.range(0, 60000, 1, 1)
        .select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
      val rc = df.queryExecution.executedPlan.asInstanceOf[ResultCollectExec]
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(assertParity(rc).size == 60000)
        // four one-task jobs; task-end events arrive asynchronously
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (sizes.size < 4 && System.nanoTime() < deadline)
          Thread.sleep(1)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(sizes.asScala.exists(_ > limit),
        s"no task result above $limit bytes: ${sizes.asScala}")
    }
  }

  test("parity: a failing task surfaces the same exception class and " +
      "cause chain") {
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getClass.getName).toSeq
    def rootMessage(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
        .getMessage
    withAqe(false) {
      val df = spark.range(0, 20, 1, 2).select(
        when(col("id") === 13, raise_error(lit("boom 13")))
          .otherwise(col("id")).as("v"))
      val rc = df.queryExecution.executedPlan.asInstanceOf[ResultCollectExec]
      val ours = intercept[Exception](rc.executeCollect())
      val theirs = intercept[Exception](rc.child.executeCollect())
      assert(chain(ours) == chain(theirs))
      assert(rootMessage(ours) == rootMessage(theirs))
      assert(rootMessage(ours).contains("boom 13"))
      val viaDataset = intercept[Exception](df.collect())
      assert(chain(viaDataset) == chain(theirs))
    }
  }

  /** A file-backed read of ids 0-19 in one Parquet file, one partition. */
  private def oneFileIds(): org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("rc-ids").toString +
      "/t"
    spark.range(0, 20, 1, 1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def failing(df: org.apache.spark.sql.DataFrame) = df.select(
    when(col("id") === 13, raise_error(lit("boom 13")))
      .otherwise(col("id")).as("id"))

  test("parity: a failing task surfaces the same exception class and " +
      "cause chain from a single-partition file read") {
    withAqe(false) {
      val df = failing(oneFileIds())
      val rc = df.queryExecution.executedPlan.asInstanceOf[ResultCollectExec]
      // the collect that fails is the driver run's; the job then runs
      assert(rc.gateAdmits, rc)
      val ours = intercept[Exception](rc.executeCollect())
      assert(rc.driverRun.isEmpty, "the failed driver run kept its rows")
      val theirs = intercept[Exception](rc.child.executeCollect())
      assert(chain(ours) == chain(theirs))
      assert(rootMessage(ours) == rootMessage(theirs))
      assert(rootMessage(ours).contains("boom 13"))
      val viaDataset = intercept[Exception](df.collect())
      assert(chain(viaDataset) == chain(theirs))
    }
  }

  test("parity: a failing join broadcast surfaces the same exception " +
      "class and cause chain") {
    withAqe(false) {
      val ids = oneFileIds()
      def join() = ids.join(broadcast(failing(ids)), "id")
      val viaDriver = join()
      val sides = viaDriver.queryExecution.executedPlan.collect {
        case b: BroadcastExchangeExec => b.child
      }
      val Seq(side: ResultCollectExec) = sides
      assert(side.gateAdmits, side)
      val viaJob = join()
      wrappers(viaJob.queryExecution.executedPlan)
        .foreach(_.forcePath = Some(false))
      val ours = intercept[Exception](viaDriver.collect())
      val theirs = intercept[Exception](viaJob.collect())
      assert(chain(ours) == chain(theirs))
      assert(rootMessage(ours) == rootMessage(theirs))
      assert(rootMessage(ours).contains("boom 13"))
    }
  }
}

