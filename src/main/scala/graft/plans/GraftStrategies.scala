package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Plans [[AsofJoinPlan]] as [[AsofJoinExec]]. Installed per session via
  * `spark.experimental.extraStrategies` by
  * [[graft.expr.GraftFunctions.register]].
  */
object GraftStrategies extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lts, rts, payload) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, payload,
        plan.output) :: Nil
    case _ => Nil
  }
}
