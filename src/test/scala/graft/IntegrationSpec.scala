package graft

import org.apache.spark.sql.functions._
import graft.queries.CanonicalQueries

/** End-to-end: synthesized arena export → EP2 ingest → partitioned
  * lakehouse (all three tables) → every canonical query, with invariants
  * checked (the automated version of tools/Demo and perfbench's
  * interactive workload at test scale).
  */
class IntegrationSpec extends SparkSpec {

  private lazy val wh = {
    val dir = tmpDir("int-wh")
    // sf0.001: 6k lineitem rows → 18k cells → ~5k observation rows
    buildFrom(dir, "/root/testdata/sf0.001")
    dir
  }

  private def buildFrom(wh: String, sfDir: String): Unit = {
    val lake = new graft.lake.Lakehouse(spark, wh)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val base = li.select(
      concat(lit("run"), (col("l_orderkey") % 4).cast("string"))
        .as("EXECUTIONID"),
      concat(lit("p"), (col("l_orderkey") % 5).cast("string"))
        .as("ABSTRACTIONID"),
      concat(lit("sys"), (col("l_suppkey") % 6).cast("string"))
        .as("SYSTEMID"),
      lit("").as("VARIANTID"), lit("0").as("ADAPTERID"),
      concat(lit("t"), (col("l_partkey") % 10).cast("string"))
        .as("SHEETID"),
      lit("arena1").as("ARENAID"),
      col("l_linenumber").as("Y"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    val cells = base.selectExpr("EXECUTIONID", "ABSTRACTIONID", "SYSTEMID",
      "VARIANTID", "ADAPTERID", "SHEETID", "ARENAID", "Y",
      """stack(3,
        1, 'op', 'invoke', CAST(l_quantity AS DOUBLE),
        2, 'input_value', CAST(l_discount AS STRING),
          CAST(l_quantity AS DOUBLE),
        3, 'value', CAST(l_extendedprice AS STRING),
          CAST(l_quantity AS DOUBLE)) AS (X, TYPE, VALUE, EXECUTIONTIME)""")
    lake.append("observations",
      graft.ingest.ArenaIngest.observationsFromArena(cells, "IT"),
      graft.schema.Schemas.observations,
      sortCols = Seq("implementation_id", "test_id", "step_id"))
  }

  private def obs(p: String) =
    new graft.lake.Lakehouse(spark, wh).observations
      .filter(col("problem_id") === p)

  test("ingest produced partitioned observations for every problem") {
    val lake = new graft.lake.Lakehouse(spark, wh)
    val parts = lake.observations.select("problem_id").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(parts == (0 until 5).map(i => s"p$i"))
    assert(lake.observations.count() > 1000)
  }

  test("SRM view: one column per implementation, cells populated") {
    val m = CanonicalQueries.srmOutputViewDynamic(obs("p0"))
    assert(m.columns.length > 2)
    assert(m.count() > 0)
  }

  test("clustering partitions all implementations of the problem") {
    val c = CanonicalQueries.behavioralClustering(obs("p1")).collect()
    val clustered = c.flatMap(
      _.getAs[scala.collection.Seq[String]]("implementations")).toSeq
    val all = obs("p1").select("implementation_id").distinct()
      .collect().map(_.getString(0)).toSeq
    assert(clustered.sorted == all.sorted) // partition, no dup/loss
    assert(c.map(_.getAs[Long]("cluster_size")).sum == all.length)
  }

  test("per-problem stats row counts reconcile with the raw table") {
    val st = CanonicalQueries.perProblemStats(
      new graft.lake.Lakehouse(spark, wh).observations).collect()
    assert(st.length == 5)
    val totalFromStats = st.map(_.getAs[Long]("n_observations")).sum
    assert(totalFromStats ==
      new graft.lake.Lakehouse(spark, wh).observations.count())
  }
}
