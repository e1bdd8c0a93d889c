package graft.plans

import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  Exchange}
import org.apache.spark.sql.graftbridge.ResultCollectBase

/** Collects its child with one Spark job whose function is a small named
  * class (`graftbridge.EncodePartition`) rather than Spark's two closures,
  * which the closure cleaner re-parses from `RDD.class` and
  * `SparkContext.class` on every job: on a 4-core host that cleaning was
  * 31% of the driver's CPU samples over the per-problem queries, and a
  * 1-partition collect took 10.6–13.4 ms against 3.5–5.5 ms through a
  * small-class function. Rows, their order and their encoding are Spark's
  * own; `execute()` is the child's. Placed by [[ResultCollect]]. */
case class ResultCollectExec(child: SparkPlan) extends ResultCollectBase {
  override protected def withNewChildInternal(newChild: SparkPlan)
      : ResultCollectExec = copy(child = newChild)
}

/** Puts [[ResultCollectExec]] over every plan root whose `executeCollect`
  * is `SparkPlan`'s default, and under every `BroadcastExchangeExec` whose
  * child's `executeCollectIterator` is the default. Runs after the
  * columnar transitions, which come after `EnsureRequirements` both in the
  * non-AQE preparations and in AQE's per-stage rules, so it sees the root
  * the result is collected from.
  *
  * Left alone:
  *   - roots that collect their own way (commands, `LocalTableScanExec`,
  *     `CollectLimitExec`, `TakeOrderedAndProjectExec`,
  *     `AdaptiveSparkPlanExec`, query stages): they override
  *     `executeCollect`, and so does the node itself, so re-running the
  *     rule never wraps twice;
  *   - exchanges, which are AQE stage roots, and `WriteFilesExec`, which
  *     is written, never collected;
  *   - columnar roots, whose consumer reads batches. */
object ResultCollect extends Rule[SparkPlan] {
  private def inherits(p: SparkPlan, method: String): Boolean =
    p.getClass.getMethod(method).getDeclaringClass == classOf[SparkPlan]

  def apply(plan: SparkPlan): SparkPlan = {
    val inner = plan.transformUp {
      case b: BroadcastExchangeExec
          if inherits(b.child, "executeCollectIterator") =>
        b.withNewChildren(Seq(ResultCollectExec(b.child)))
    }
    inner match {
      case _: Exchange | _: WriteFilesExec => inner
      case p if p.supportsColumnar || !inherits(p, "executeCollect") => inner
      case p => ResultCollectExec(p)
    }
  }

  /** The `injectColumnar` form. */
  val columnarRule: ColumnarRule = new ColumnarRule {
    override def postColumnarTransitions: Rule[SparkPlan] = ResultCollect
  }
}
