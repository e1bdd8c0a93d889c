package graft.tools

import graft.ingest.ArenaIngest
import graft.lake.Lakehouse
import graft.schema.Schemas

/** Drop-in analog of the reference's ingest script
  * (`/root/reference/lasso_arena_ingest.py`): for each dataset, ingest
  * code implementations (Solr export JSON), observations and test
  * specifications (arena cell export parquet) into the partitioned
  * lakehouse, timing each phase, then print the script's closing
  * per-problem stats query.
  *
  * Usage:
  *   runMain graft.tools.ArenaIngestCli <warehouse> \
  *     <dataSetId>=<arenaExport.parquet>[,<solrExport.json>] ...
  *
  * SPARK_GRAFT_SHA1=true switches content hashes to real git-blob
  * SHA-1s (interchangeable with the reference's dedup keys / `git
  * hash-object`); default is the DuckDB-checkable SHA-256.
  */
object ArenaIngestCli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ArenaIngestCli <warehouse> <id>=<export.parquet>[,<solr.json>] ...")
    val cpus = graft.GraftSession.envCores
    val spark = graft.GraftSession.batch(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    val lake = new Lakehouse(spark, args(0))
    val sha1 = sys.env.get("SPARK_GRAFT_SHA1").exists(_.toBoolean)

    def timed(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$label ${(System.nanoTime() - t0) / 1e6}%.1f ms")
    }

    args.drop(1).foreach { spec =>
      val (id, paths) = spec.split("=", 2) match {
        case Array(i, p) => (i, p)
        case _ => sys.error(s"bad dataset spec: $spec")
      }
      val ps = paths.split(",")
      val export = ps(0)
      val raw = spark.read.parquet(export)
      ps.drop(1).foreach { solr =>
        timed(s"code $id") {
          lake.append("code_implementations",
            ArenaIngest.codeFromSolrJson(spark, solr, id, sha1),
            Schemas.codeImplementations)
        }
      }
      if (ps.length == 1)
        timed(s"code $id") {
          lake.append("code_implementations",
            ArenaIngest.codeFromArena(raw, id, sha1),
            Schemas.codeImplementations)
        }
      timed(s"obs $id") {
        // single-shuffle path: cluster by problem once, reuse for the
        // regroup and the partition layout
        lake.append("observations",
          ArenaIngest.observationsFromArena(
            ArenaIngest.clusterByProblem(raw), id),
          Schemas.observations,
          sortCols = Seq("implementation_id", "test_id", "step_id"),
          clustered = true)
      }
      timed(s"tests $id") {
        lake.append("tests", ArenaIngest.testsFromArena(raw, id, sha1),
          Schemas.tests)
      }
    }

    // the reference script's closing analyzer query, verbatim semantics
    lake.query("""
      SELECT
          data_set_id,
          problem_id,
          COUNT(DISTINCT implementation_id) AS num_implementations,
          COUNT(DISTINCT test_id) AS num_tests,
          COUNT(*) AS total_observations
      FROM observations
      WHERE run_id IS NOT NULL
      GROUP BY data_set_id, problem_id
      ORDER BY total_observations DESC
      LIMIT 10""").show(truncate = false)
    spark.stop()
  }
}
