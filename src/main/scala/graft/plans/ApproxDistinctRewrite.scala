package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Complete, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rewrite: exact `count(DISTINCT x)` → HLL++
  * `approx_count_distinct(x)` at [[RelativeSD]] — the cost-based tier
  * switch expressed as a Catalyst `Rule`, so a 100 TB deployment
  * installs ONE rule on its session and every dashboard query sheds its
  * multi-distinct Expand (row multiplication × distinct columns) and
  * exact-distinct shuffle without touching query code. A session
  * without the rule keeps every count(DISTINCT) exact.
  *
  * Scope is deliberately narrow — single-argument, non-filtered COUNT
  * DISTINCT only: multi-column distincts and FILTER clauses keep exact
  * semantics rather than silently estimating something the sketch
  * doesn't model. Added per session with `Bridge.addOptimizerRule`
  * (the cloned session of the `kpis_rewritten` query); PlanShapeSpec
  * gates the rewrite and its scope. */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {
  /** HLL++'s default relative standard error (the one
    * `approx_count_distinct(x)` uses): the `kpis_rewritten` oracle
    * accepts an estimate within 5σ = 0.25. */
  val RelativeSD = 0.05

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case a: Aggregate => a.transformExpressions {
        // NOT `child :: Nil` — Count's children Seq is not always a List
        case AggregateExpression(c: Count, _, true, None, _)
            if c.children.size == 1 =>
          AggregateExpression(HyperLogLogPlusPlus(c.children.head, RelativeSD),
            Complete, isDistinct = false)
      }
    }
}
