// This file is compiled into a subpackage of org.apache.spark.sql ON
// PURPOSE: `Dataset.ofRows`, the factory that builds a DataFrame over a
// given logical plan, and `LogicalPlan.setAnalyzed` are private[sql].
// Only the factory lives here; the plans it is handed are
// [[graft.plans.PreparedPlans]]'.
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

object DatasetBridge {
  /** A DataFrame over `plan`, which the analyzer resolves as usual. */
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over a resolved `plan`, marked analyzed: the analyzer
    * returns such a plan as it is, without running a rule. */
  def ofAnalyzed(session: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    ofRows(session, plan)
  }
}
