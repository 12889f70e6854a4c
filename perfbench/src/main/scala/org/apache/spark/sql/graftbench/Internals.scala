package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** The engine internals the benchmark reads, kept in one place: draining
  * the listener bus (so counters of a finished operation are complete
  * before they are read), the operators a stage ran, and the physical
  * plan an action actually ran (AQE's final plan, stages, subqueries). */
object Internals {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a stage evaluates a physical operator of this node name (RDD
    * scopes carry the name of the operator that created them). */
  def stageRuns(info: org.apache.spark.scheduler.StageInfo, node: String): Boolean =
    info.rddInfos.exists(_.scope.exists(_.name == node))

  /** Every executed operator once; reused exchanges are skipped so a
    * shared stage's metrics are not counted twice. */
  def operators(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec => operators(q.plan)
    case _: ReusedExchangeExec => Nil
    case p => p +: (p.children.flatMap(operators) ++
      p.subqueries.flatMap(operators))
  }
}
