package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Complete, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Opt-in optimizer rewrite: exact `count(DISTINCT x)` → HLL++
  * `approx_count_distinct(x)` when `graft.rewrite.approxDistinct=true`
  * — the cost-based tier switch expressed as a Catalyst `Rule`, so a
  * 100 TB deployment flips ONE config and every dashboard query sheds
  * its multi-distinct Expand (row multiplication × distinct columns)
  * and exact-distinct shuffle without touching query code. The same
  * session default (`false`) keeps every correctness-gated query exact.
  *
  * Scope is deliberately narrow — single-argument, non-filtered COUNT
  * DISTINCT only: multi-column distincts and FILTER clauses keep exact
  * semantics rather than silently estimating something the sketch
  * doesn't model. Added per session with `Bridge.addOptimizerRule`
  * (the cloned session of the `kpis_rewritten` query); PlanShapeSpec
  * gates both directions of the flag. */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("graft.rewrite.approxDistinct", "false").toBoolean)
      plan
    else plan.transformUp {
      case a: Aggregate => a.transformExpressions {
        // NOT `child :: Nil` — Count's children Seq is not always a List
        case AggregateExpression(c: Count, _, true, None, _)
            if c.children.size == 1 =>
          AggregateExpression(
            HyperLogLogPlusPlus(c.children.head), Complete, isDistinct = false)
      }
    }
}
