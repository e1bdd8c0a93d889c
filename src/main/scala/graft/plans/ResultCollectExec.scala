package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  Exchange}
import org.apache.spark.sql.graftbridge.ResultCollectBase

/** Collects its child on the calling thread when the collect is a small
  * local read (one partition of file scans, narrow lineage, files within
  * `spark.sql.autoBroadcastJoinThreshold`: `graftbridge.DriverRun`), and
  * otherwise with one Spark job whose function is a small named class
  * (`graftbridge.EncodePartition`).
  *
  * The driver run takes the per-problem queries' collects, both join
  * broadcasts included, off the scheduler: no job, stage or task per
  * operation (`interactive` `pass_ms` 107.7 → 86.1 ms scaled, median of
  * 10 alternating pairs on a 4-core host). It is not a job: job-group
  * cancellation cannot stop it and the UI's job list does not show it;
  * the byte bound limits it.
  *
  * The job's function is a named class rather than Spark's two closures,
  * which the closure cleaner re-parses from `RDD.class` and
  * `SparkContext.class` on every job: on a 4-core host that cleaning was
  * 31% of the driver's CPU samples over the per-problem queries, and a
  * 1-partition collect took 10.6–13.4 ms against 3.5–5.5 ms through a
  * small-class function.
  *
  * Rows, their order and their encoding are Spark's own on both paths;
  * `execute()` is the child's. Placed by [[ResultCollect]]. */
case class ResultCollectExec(child: SparkPlan) extends ResultCollectBase {
  override protected def withNewChildInternal(newChild: SparkPlan)
      : ResultCollectExec = copy(child = newChild)

  /** Forces this node's collects onto the driver run (`Some(true)`) or the
    * job (`Some(false)`); `None` asks the gate. A seam for specs. */
  @transient @volatile private[graft] var forcePath: Option[Boolean] = None

  override protected def runsOnDriver(rdd: RDD[InternalRow]): Boolean =
    forcePath.getOrElse(super.runsOnDriver(rdd))

  /** The gate's decision for a collect of this node now. */
  private[graft] def gateAdmits: Boolean = super.runsOnDriver(execute())

  /** The attempt id of this node's latest driver run that returned rows,
    * and the leaked bytes its cleanup freed. */
  private[graft] def driverRun: Option[(Long, Long)] = lastDriverRun
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
