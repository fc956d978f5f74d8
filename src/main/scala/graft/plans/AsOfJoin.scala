package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Logical as-of join (backward, inclusive): for every left row, attach
  * the single right row with equal keys and the greatest `rightTime` ≤
  * `leftTime` (ties broken by `rightTieBreak`, greatest wins); left rows
  * without a match keep null right columns (left-outer semantics).
  *
  * This is the whole-operator form of the reference-superset as-of join
  * (j12 implements it compositionally as join → filter → row_number —
  * which materializes EVERY (left, earlier-right) pair per key before
  * rank-filtering, a per-key quadratic intermediate). The native operator
  * is the classic Spark extension shape: logical node here, planning rule
  * in [[AsOfJoinStrategy]], sort-merge physical operator in
  * [[AsOfJoinExec]], registered on the caller's session through
  * `spark.experimental.extraStrategies`.
  *
  * Expressions are resolved against the children by the caller
  * (`graft.ops.Joins.asOf`), so the node arrives at the analyzer already
  * resolved; `QueryPlan.expressions` picks the four expression args up
  * reflectively, which keeps the node transparent to tree transforms.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression])
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] as [[AsOfJoinExec]]; everything else falls through
  * to the built-in strategies. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tb) =>
      AsOfJoinExec(lk, rk, lt, rt, tb, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}
