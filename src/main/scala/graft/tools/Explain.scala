package graft.tools

/** Prints formatted physical plans for selected catalog queries —
  * the SURVEY-mandated plan review (pushdown, broadcast, shuffle count).
  * Usage: runMain graft.tools.Explain [queryName ...]
  *
  * GRAFT_EXPLAIN_EXECUTED=1 additionally materializes each query (noop
  * write) and prints the FINAL adaptive plan: AQE decisions —
  * ReusedExchange/stage reuse, runtime broadcast flips, coalesced
  * partitions — only exist there, never in the static explain.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.batch()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSet else Set.empty[String]
    val executed = sys.env.get("GRAFT_EXPLAIN_EXECUTED").contains("1")
    val d = "/root/testdata/sf0.01"
    graft.testqueries.Registry.all
      .filter(q => names.isEmpty || names(q.name))
      .foreach { q =>
        println(s"\n========== ${q.name} ==========")
        val df = q.run(spark, d)
        df.explain("formatted")
        // GRAFT_EXPLAIN_CODEGEN=1: dump the generated whole-stage code —
        // the only way to SEE per-row duplicate evaluation (a plan line
        // showing an expression in both Filter and Project may still be
        // a single call if codegen CSE fuses them, or two if not).
        // Executed first: under AQE the un-run plan holds no codegen
        // subtrees (debugCodegen reports 0 until stages materialize).
        if (sys.env.get("GRAFT_EXPLAIN_CODEGEN").contains("1")) {
          import org.apache.spark.sql.execution.debug._
          df.queryExecution.toRdd.count()
          println(s"---- ${q.name}: generated code ----")
          df.debugCodegen()
        }
        if (executed) {
          // Materialize THIS df's own QueryExecution: a noop write
          // would plan a separate WriteFiles execution and leave
          // df.queryExecution un-run (printing an AQE plan that never
          // finalized). toRdd drives the same executedPlan instance.
          df.queryExecution.toRdd.count()
          println(s"---- ${q.name}: executed (final adaptive) plan ----")
          println(df.queryExecution.executedPlan.toString)
        }
      }
    spark.stop()
  }
}
