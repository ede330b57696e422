package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** The physical-plan walk the plan specs share. Sessions enables AQE,
  * whose root AdaptiveSparkPlanExec is a LEAF (children = Nil): a
  * children-only walk visits nothing and every check built on it passes
  * vacuously. This walk descends into the adaptive plan, into the query
  * stages of an executed adaptive plan (also leaves), and into
  * subqueries. */
object PlanWalk {
  /** Every node of `p`, `p` first. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val wrapped = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case _ => Nil
    }
    p +: (wrapped ++ p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes))
  }

  /** The build side of every BroadcastExchange in `p`, as plan text. */
  def broadcastSubtrees(p: SparkPlan): Seq[String] =
    nodes(p).collect { case b: BroadcastExchangeExec => b.child.toString }
}
