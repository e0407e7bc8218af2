package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String

/** A whole-operator as-of join — SURVEY preference order (c): custom
  * `LogicalPlan` + `SparkStrategy` + `SparkPlan`, the extension tier for
  * semantics the built-in operators can't express as ONE operator.
  *
  * For every left row, attach the payload of the most recent right row of
  * the same key with `right.ts <= left.ts` (inclusive), or nulls if none.
  * Spark's own options are an inequality join (planned as a per-key
  * nested loop) or the union + last(ignoreNulls) window composition
  * (`Serving.eventsAsofOrderPrice`); this node plans like a sort-merge
  * join instead: Catalyst's EnsureRequirements co-partitions both sides
  * on the key and sorts them (key, ts), and the exec merges each
  * co-partition pair in ONE forward pass — no per-key buffering beyond a
  * single held payload row, no union row-type tagging.
  *
  * The logical node is built from already-analyzed children (attributes
  * resolved by name at construction), so no analyzer rule is needed; the
  * strategy is injected per-session via `Bridge.addStrategy` (the
  * post-hoc form of `SparkSessionExtensions.injectPlannerStrategy`).
  */
case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute], rightTie: Seq[Attribute],
    tolerance: Option[Long] = None) extends BinaryNode {
  require(leftKey.dataType == rightKey.dataType,
    s"as-of key types differ: ${leftKey.dataType} vs ${rightKey.dataType}")
  require(leftTs.dataType == rightTs.dataType,
    s"as-of ts types differ: ${leftTs.dataType} vs ${rightTs.dataType}")
  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))
  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
      newRight: LogicalPlan): AsOfJoinNode = copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] into [[AsOfJoinExec]]; everything else falls
  * through to the built-in strategies. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts, payload, tie, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, payload, tie, tol) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of exec. `requiredChildDistribution` co-partitions both
  * children on their keys (Catalyst inserts the exchanges — at scale this
  * is the same two-shuffle cost as any shuffle join, and bucketed or
  * pre-partitioned children plan with NO exchange); `requiredChildOrdering`
  * gets both sides sorted (key, ts [, tie...]), so the merge is a single
  * forward pass per partition holding one payload row. */
case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    payload: Seq[Attribute], rightTie: Seq[Attribute],
    tolerance: Option[Long] = None) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)) ++
      rightTie.map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): AsOfJoinExec = copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey: Expression, left.output)
    val lt = BindReferences.bindReference(leftTs: Expression, left.output)
    val rk = BindReferences.bindReference(rightKey: Expression, right.output)
    val rt = BindReferences.bindReference(rightTs: Expression, right.output)
    val keyOrd = Bridge.interpretedOrdering(leftKey.dataType)
    val tsOrd = Bridge.interpretedOrdering(leftTs.dataType)
    val payloadAttrs = payload
    val rightOut = right.output
    val nPayload = payload.length

    val outputAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val payloadProj = UnsafeProjection.create(payloadAttrs, rightOut)
      // downstream exchanges expect UnsafeRow — flatten the JoinedRow
      val resultProj = UnsafeProjection.create(outputAttrs, outputAttrs)
      val nullPayload = new GenericInternalRow(nPayload)
      val joiner = new JoinedRow
      val rBuf = rIter.buffered
      // the single held state: payload + key + ts of the latest right
      // row seen whose (key, ts) precedes the current left cursor
      var heldKey: Any = null
      var held: InternalRow = null
      var heldTs: Long = Long.MinValue
      // ts internal reps are numeric (Long micros for timestamps, Int
      // days for dates) — tolerance compares in those same units
      def tsLong(v: Any): Long = v match {
        case l: java.lang.Long => l
        case i: java.lang.Integer => i.toLong
        case n: Number => n.longValue
      }
      val tol = tolerance
      def keepKey(v: Any): Any = v match {
        case s: UTF8String => s.clone() // row buffers are reused after next()
        case x => x
      }
      new Iterator[InternalRow] {
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val k = lk.eval(l)
          val t = lt.eval(l)
          if (k == null) return resultProj(joiner(l, nullPayload))
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rkv = rk.eval(rBuf.head)
            val cmp = if (rkv == null) -1 else keyOrd.compare(rkv, k)
            if (cmp < 0) rBuf.next() // key passed by the left cursor: drop
            else if (cmp == 0) {
              val rtv = rt.eval(rBuf.head)
              if (rtv == null) rBuf.next() // null ts sorts first, never matches
              else if (tsOrd.compare(rtv, t) <= 0) {
                // eligible: consume and hold (later rows of the same key
                // and ts window overwrite — the right-side sort makes the
                // last one the winner)
                heldTs = tsLong(rtv)
                held = payloadProj(rBuf.next()).copy()
                heldKey = keepKey(k)
              } else advancing = false
            } else advancing = false
          }
          // the held row is the LATEST eligible one, so if IT is staler
          // than the tolerance no nearer match can exist for this left row
          if (held != null && heldKey != null && keyOrd.compare(heldKey, k) == 0
              && tol.forall(tsLong(t) - heldTs <= _))
            resultProj(joiner(l, held))
          else resultProj(joiner(l, nullPayload))
        }
      }
    }
  }
}

/** Optimizer rule: Catalyst's own PushDownPredicates cannot see through
  * an unknown node, so a user's `filter` above [[AsOfJoinNode]] would scan
  * everything. Left-only conjuncts are safe to push: the as-of join emits
  * exactly one row per left row and its payload depends only on that
  * row's own (key, ts), so filtering left rows before the join equals
  * filtering the joined result on left attributes. Conjuncts touching
  * payload columns stay above. */
object AsOfFilterPushdown
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, j: AsOfJoinNode) =>
      val (pushable, kept) = splitConjunctivePredicates(cond)
        .partition(_.references.subsetOf(j.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(pushable.reduce(
          org.apache.spark.sql.catalyst.expressions.And), j.left))
        kept.reduceOption(org.apache.spark.sql.catalyst.expressions.And)
          .map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** DataFrame-level API over the custom operator. */
object AsOf {

  /** As-of join `left` to `right`: for each left row, the payload columns
    * of the most recent right row with the same key and `rightTs <=
    * leftTs`; ties on (key, ts) resolved by the greatest `rightTie`
    * columns. `tolerance` (pandas merge_asof semantics) bounds the match
    * staleness: a held row older than `leftTs - tolerance` yields nulls
    * instead — units are the ts column's INTERNAL representation
    * (microseconds for timestamps, days for dates). Children are
    * pre-projected so only key/ts/payload columns reach the
    * exchanges. */
  def joinAsOf(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      payload: Seq[String], rightTie: Seq[String] = Nil,
      tolerance: Option[Long] = None): DataFrame = {
    val spark: SparkSession = left.sparkSession
    Bridge.addStrategy(spark, AsOfJoinStrategy)
    Bridge.addOptimizerRule(spark, AsOfFilterPushdown)
    val rightPruned = right.selectExpr(
      (Seq(rightKey, rightTs) ++ rightTie ++ payload).distinct: _*)
    val lPlan = Bridge.analyzed(left)
    val rPlan = Bridge.analyzed(rightPruned)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name).mkString(", ")}"))
    Bridge.dataFrame(spark, AsOfJoinNode(lPlan, rPlan,
      attr(lPlan, leftKey), attr(rPlan, rightKey),
      attr(lPlan, leftTs), attr(rPlan, rightTs),
      payload.map(attr(rPlan, _)), rightTie.map(attr(rPlan, _)), tolerance))
  }
}
