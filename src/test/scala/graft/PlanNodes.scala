package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Every node of an executed plan, through AQE wrappers and subqueries. */
object PlanNodes {
  def apply(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => apply(a.executedPlan)
    case q: QueryStageExec => q +: apply(q.plan)
    case r: ReusedExchangeExec => r +: apply(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(apply)
  }
}
