package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark 4's `private[sql]` Column ↔ Expression conversion —
  * the supported pattern for libraries that define native Catalyst
  * expressions (Column no longer exposes `.expr` / an Expression
  * constructor publicly in the unified SQL API). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's own id of a session (`private[sql]`): a random UUID per
    * session instance, never reused in the JVM, so a later session can
    * never inherit an entry keyed by it. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Register a temp SQL function backed by a native expression builder. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Wrap a (resolved) custom LogicalPlan as a DataFrame. */
  def dataFrame(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Idempotently add a planner strategy to an existing session (the
    * post-hoc equivalent of SparkSessionExtensions.injectPlannerStrategy
    * for sessions the caller didn't build). */
  def addStrategy(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(strategy))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ strategy
  }

  /** Idempotently add an optimizer rule to an existing session (post-hoc
    * form of SparkSessionExtensions.injectOptimizerRule). */
  def addOptimizerRule(spark: org.apache.spark.sql.SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(rule))
      cs.experimental.extraOptimizations = cs.experimental.extraOptimizations :+ rule
  }

  /** Natural ascending ordering for an atomic column type. */
  def interpretedOrdering(dt: org.apache.spark.sql.types.DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)

  /** Re-declare the hash layout on a checkpointed frame. Under AQE,
    * `Dataset.localCheckpoint` loses the physical plan's output
    * partitioning (the LogicalRDD is built with UnknownPartitioning from
    * the AdaptiveSparkPlanExec — measured on 4.1.2; with AQE off it is
    * preserved), so every downstream consumer re-exchanges data that is
    * already laid out correctly. Callers that just paid an EXPLICIT
    * `repartition(n, key)` — a fixed-N layout AQE never coalesces, so
    * the declaration is exactly true of the materialized RDD — use this
    * to put the layout back on the severed plan. No-op on frames whose
    * optimized plan is not a LogicalRDD. MUST only be called when the
    * checkpointed RDD really is hash(keys) % n-laid-out: declaring a
    * false layout silently mis-joins. */
  def declareHashPartitioning(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String], n: Int): org.apache.spark.sql.DataFrame =
    df.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val attrs = keys.map(k => lr.output.find(_.name == k).getOrElse(
          throw new IllegalArgumentException(
            s"declareHashPartitioning: no column $k in ${lr.output.map(_.name)}")))
        // the curried second parameter list has no public accessors —
        // re-supply the session and seed the copy with the original's
        // (public) computed stats/constraints so estimates survive
        dataFrame(df.sparkSession, lr.copy(outputPartitioning =
          org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(attrs, n))(
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          Some(lr.stats), Some(lr.constraints)))
      case other =>
        // a SILENT no-op here would let a Spark upgrade that
        // changes the checkpoint plan shape quietly drop the pin and
        // reintroduce the per-consumer re-exchange (visible only when
        // PlanShapeSpec runs). Warn loudly so a pin loss shows up in any
        // run's logs, not just the plan-shape tests.
        System.err.println(
          s"[graft] declareHashPartitioning: expected a LogicalRDD after " +
            s"localCheckpoint but saw ${other.getClass.getSimpleName}; " +
            s"partitioning pin on keys=${keys.mkString(",")} DROPPED — " +
            "downstream consumers will re-exchange (plan-shape regression)")
        df
    }
}
