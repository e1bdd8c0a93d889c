package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions installer for the engine's native functions.
  * Usage:
  * {{{
  *   val spark = graft.GraftSession.batch()
  *   spark.sql("SELECT graft_git_blob_hash(source_code) FROM code")
  *   spark.sql("""SELECT implementation_id,
  *     md5(to_json(graft_sig_list(named_struct('t', test_id, 'r', run_id),
  *       step_id, output))) AS fp
  *     FROM observations GROUP BY implementation_id""")
  * }}}
  * Scalar expressions AND the native aggregates are injected — the
  * analyzer wraps an AggregateFunction returned by a builder in its
  * AggregateExpression, so the aggregates work in plain SQL GROUP BYs.
  * One planner strategy, [[PreparedStrategy]], expands the analyzed
  * leaf [[PreparedPlan]] over which [[PreparedPlans]] serves a kept
  * per-problem plan; a session without it builds those queries plainly.
  * Two RULES are injected:
  *   - [[ResolveGraftTimeTravel]] resolves `VERSION AS OF` over
  *     snapshot-lite lakehouse tables (the Iceberg SQL form) ahead of the
  *     built-in `ResolveRelations`;
  *   - [[ResultCollect]], a physical rule after the columnar transitions,
  *     puts [[ResultCollectExec]] over each collected plan root and under
  *     each `BroadcastExchangeExec`, so a collect is one Spark job that
  *     the closure cleaner does not re-parse Spark's `RDD` and
  *     `SparkContext` classes for. Roots that collect their own way
  *     (commands, `LocalTableScan`, `CollectLimit`,
  *     `TakeOrderedAndProject`, `AdaptiveSparkPlan`) and exchanges are
  *     left alone.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Hints batch: runs BEFORE Resolution, where ResolveRelations
    // would hard-fail VERSION AS OF over the lakehouse temp views.
    ext.injectHintResolutionRule(session =>
      ResolveGraftTimeTravel(session))
    ext.injectColumnar(_ => ResultCollect.columnarRule)
    ext.injectPlannerStrategy(_ => PreparedStrategy)
    ext.injectFunction((GitBlobHashExpr.identifier, GitBlobHashExpr.info,
      GitBlobHashExpr.builder))
    ext.injectFunction((GitBlobHashExpr.sha1Identifier,
      GitBlobHashExpr.sha1Info, GitBlobHashExpr.sha1Builder))
    ext.injectFunction((VecDotExpr.identifier, VecDotExpr.info,
      VecDotExpr.builder))
    ext.injectFunction((CountInSetExpr.identifier, CountInSetExpr.info,
      CountInSetExpr.builder))
    ext.injectFunction((KeyedMinAgg.identifier, KeyedMinAgg.info,
      KeyedMinAgg.builder))
    ext.injectFunction((SigListAgg.identifier, SigListAgg.info,
      SigListAgg.builder))
    ext.injectFunction((ZOrderExpr.identifier, ZOrderExpr.info,
      ZOrderExpr.builder))
    ext.injectFunction((TopKAgg.identifier, TopKAgg.info,
      TopKAgg.builder))
    ext.injectFunction((KmvAgg.identifier, KmvAgg.info,
      KmvAgg.builder))
  }
}
