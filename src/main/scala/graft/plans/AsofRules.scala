package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst does not know [[AsofJoinPlan]]'s semantics, so a Filter above
  * it never pushes down on its own — the custom operator would silently
  * disable predicate pushdown for its whole subtree. This rule restores
  * it for the sound case: the asof join emits exactly one row per LEFT
  * row, so any conjunct referencing only left-side attributes commutes
  * with the join and can evaluate below it. Conjuncts touching the right-side payload must stay
  * above (they depend on the match result).
  *
  * Installed per session by [[graft.expr.GraftFunctions.register]] through
  * `spark.experimental.extraOptimizations`, so it runs AFTER the main
  * optimizer batches: the predicate lands below the asof node and prunes
  * rows before the shuffle/merge, but does not reach data-source pushdown.
  */
object PushFilterThroughAsof extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, a: AsofJoinPlan) =>
      // deterministic guard (as Spark's own pushdown rules apply): moving
      // rand()/input_file_name() below the join would change their values
      val (pushable, rest) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(a.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = a.copy(left = Filter(pushable.reduce(And), a.left))
        rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}
