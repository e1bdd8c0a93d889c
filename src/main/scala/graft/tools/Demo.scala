package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ingest.ArenaIngest
import graft.lake.Lakehouse
import graft.queries.CanonicalQueries
import graft.schema.Schemas

/** End-to-end usage example: raw arena export → ingest → partitioned
  * lakehouse → the four canonical queries. Mirrors the reference's
  * `lasso_arena_ingest.py` + `benchmark_*.py` flow on a tiny inline
  * dataset.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    // the library session factory: extensions registered, measured
    // defaults applied (see GraftSession)
    val spark = graft.GraftSession.batch()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val wh = java.nio.file.Files.createTempDirectory("olake-demo").toString
    val lake = new Lakehouse(spark, wh)

    // raw wide arena export: 2 impls × 1 test × 2 steps (+ metadata rows)
    val raw = Seq(
      ("e1", "p1", "sysA", "", "0", "t1", "a1", 0, -1, "interface",
        "class A { int f() { return 1; } }", 0.0),
      ("e1", "p1", "sysB", "", "0", "t1", "a1", 0, -1, "interface",
        "class B { int f() { return 1; } }", 0.0),
      ("e1", "p1", "sysA", "", "0", "t1", "a1", 0, 0, "op", "f", 1.0),
      ("e1", "p1", "sysA", "", "0", "t1", "a1", 1, 0, "input_value", "3", 1.0),
      ("e1", "p1", "sysA", "", "0", "t1", "a1", 2, 0, "value", "1", 1.0),
      ("e1", "p1", "sysA", "", "0", "t1", "a1", 0, 1, "value", "done", 1.0),
      ("e1", "p1", "sysB", "", "0", "t1", "a1", 0, 0, "op", "f", 1.0),
      ("e1", "p1", "sysB", "", "0", "t1", "a1", 1, 0, "input_value", "3", 1.0),
      ("e1", "p1", "sysB", "", "0", "t1", "a1", 2, 0, "value", "1", 1.0),
      ("e1", "p1", "sysB", "", "0", "t1", "a1", 0, 1, "value", "done", 1.0),
      // test-specification metadata (arena.py ingest_tests shape)
      ("e1", "p1", "abstraction", "", "0", "t1", "a1", 0, -1,
        "stimulussheet", """{"cells":{"A1":"f(3)"}}""", 0.0),
      ("e1", "p1", "abstraction", "", "0", "t1", "a1", 0, -1, "interface",
        "interface F { int f(int x); }", 0.0))
      .toDF("EXECUTIONID", "ABSTRACTIONID", "SYSTEMID", "VARIANTID",
        "ADAPTERID", "SHEETID", "ARENAID", "X", "Y", "TYPE", "VALUE",
        "EXECUTIONTIME")

    // EP2 ingest → lakehouse append
    lake.append("observations",
      ArenaIngest.observationsFromArena(raw, "Demo"), Schemas.observations,
      sortCols = Seq("implementation_id", "test_id", "step_id"))
    lake.append("code_implementations",
      ArenaIngest.codeFromArena(raw, "Demo"), Schemas.codeImplementations)
    lake.append("tests",
      ArenaIngest.testsFromArena(raw, "Demo"), Schemas.tests)
    println(s"ingested observations=${lake.observations.count()} " +
      s"code=${lake.codeImplementations.count()} " +
      s"tests=${lake.tests.count()}")
    // native functions are live from plain SQL (GraftExtensions via
    // GraftSession): git-interoperable content hash
    println("git blob sha1('hello') = " + spark
      .sql("SELECT graft_git_blob_sha1('hello') AS h")
      .collect().head.getString(0))

    // canonical queries on the pruned partition
    val obs = lake.observations.filter(col("problem_id") === "p1")
    println("-- SRM output view --")
    CanonicalQueries.srmOutputViewDynamic(obs).show(false)
    println("-- behavioral clustering --")
    CanonicalQueries.behavioralClustering(obs).show(false)
    println("-- consensus oracle --")
    CanonicalQueries.consensusOracle(obs).show(false)
    println("-- per-problem stats --")
    CanonicalQueries.perProblemStats(obs).show(false)
    println("-- lazy SQL API --")
    lake.query("SELECT implementation_id, count(*) AS n FROM observations " +
      "WHERE problem_id = 'p1' GROUP BY 1 ORDER BY 1").show(false)

    println("-- streaming sessionization (batch input) --")
    val td = "/root/testdata/sf0.001"
    graft.streaming.EventsStreaming.sessionize(spark,
      graft.testqueries.Tables.events(spark, td).limit(200))
      .orderBy("user_id", "session_start").show(5, false)

    println("-- salted skew join --")
    graft.ops.Skew.saltedJoin(
      graft.testqueries.Tables.lineitem(spark, td),
      graft.testqueries.Tables.orders(spark, td)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
      Seq("l_orderkey"), 4)
      .groupBy("o_orderpriority").count().orderBy("o_orderpriority")
      .show(false)

    println("-- round-4 layout & maintenance surface --")
    // Z-order curve key from SQL (graft_zorder is extensions-injected)
    spark.sql("SELECT graft_zorder(3, 5) AS z").show(false)
    // bloom-pruned exact join
    val li = graft.testqueries.Tables.lineitem(spark, td)
    val smallOrders = graft.testqueries.Tables.orders(spark, td)
      .filter(col("o_totalprice") > 200000).select("o_orderkey")
    println("bloom-pruned join rows = " + graft.ops.BloomPrune
      .prunedEquiJoin(li, smallOrders, col("l_orderkey"),
        col("o_orderkey"), expectedItems = 10000L).count())
    // incremental stats maintenance: merge == recompute
    val keys = Seq("l_returnflag")
    val prev = graft.ops.IncrementalAgg.statsOf(
      li.filter(col("l_orderkey") % 2 === 0), keys, "l_extendedprice")
    val delta = graft.ops.IncrementalAgg.statsOf(
      li.filter(col("l_orderkey") % 2 === 1), keys, "l_extendedprice")
    graft.ops.IncrementalAgg.merge(prev, delta, keys)
      .orderBy("l_returnflag").show(false)
    // symmetric-delete fuzzy join on a toy frame
    import spark.implicits._
    graft.ops.FuzzyJoin.editDistanceJoin(
      Seq((1L, "kitten", "b"), (2L, "kittex", "b"), (3L, "sitting", "b"))
        .toDF("id", "s", "blk"),
      "id", "s", maxDist = 1, blockCols = Seq("blk")).show(false)
    println("DEMO_OK")
    spark.stop()
  }
}
