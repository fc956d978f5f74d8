package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DataType, LongType}

/** How [[PrefixScan]] folds its value over the total order. A fold is an
  * associative step with an identity, so per-partition subtotals combine
  * into the seed of every later partition. */
sealed abstract class PrefixFold {
  /** Type of the appended column for a value of type `t`. */
  def resultType(t: DataType): DataType
  def nullable: Boolean
  /** Whether a row's own value is folded in before the row is emitted. */
  def inclusive: Boolean
  def zero: Any
  /** Folds one value (null: none) into `acc`; returns the accumulator. */
  def step(t: DataType): (Any, Any) => Any
}

object PrefixFold {
  /** Running sum of a LONG value up to and including the row; a null
    * value counts as 0, so the result is never null. */
  case object InclusiveSum extends PrefixFold {
    def resultType(t: DataType): DataType = LongType
    def nullable: Boolean = false
    def inclusive: Boolean = true
    def zero: Any = 0L
    def step(t: DataType): (Any, Any) => Any = (acc, v) =>
      if (v == null) acc else acc.asInstanceOf[Long] + v.asInstanceOf[Long]
  }

  /** Minimum of the values of the rows strictly before the row (nulls
    * skipped), compared in the value's own type; null while no earlier
    * row has a value. */
  case object ExclusiveMin extends PrefixFold {
    def resultType(t: DataType): DataType = t
    def nullable: Boolean = true
    def inclusive: Boolean = false
    def zero: Any = null
    def step(t: DataType): (Any, Any) => Any = {
      val ord = TypeUtils.getInterpretedOrdering(t)
      (acc, v) =>
        if (v == null || (acc != null && ord.lteq(acc, v))) acc
        else InternalRow.copyValue(v)
    }
  }
}

/** Logical global prefix scan: appends `out`, the [[PrefixFold]] of
  * `value` over the rows before (and, for an inclusive fold, at) each
  * row under the total order `order` — `sum(v) OVER (ORDER BY …)` and
  * its kin without the one-task window. Planned by [[PrefixScanStrategy]]
  * into [[PrefixScanExec]], which computes the whole answer inside
  * execution; building the node starts no job and caches nothing.
  *
  * Expressions arrive resolved against the child (`graft.ops.Pipeline.
  * prefixScan`). `out` is an expression argument, so it must be declared
  * as produced here: otherwise the analyzer counts it as a missing
  * input. */
case class PrefixScan(
    value: Expression,
    order: Seq[SortOrder],
    fold: PrefixFold,
    out: Attribute,
    child: LogicalPlan)
  extends UnaryNode {

  override def output: Seq[Attribute] = child.output :+ out

  override def producedAttributes: AttributeSet = AttributeSet(out)

  override protected def withNewChildInternal(newChild: LogicalPlan): PrefixScan =
    copy(child = newChild)
}

/** Plans [[PrefixScan]] as [[PrefixScanExec]]. */
object PrefixScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PrefixScan(value, order, fold, out, child) =>
      PrefixScanExec(value, order, fold, out, planLater(child)) :: Nil
    case _ => Nil
  }
}
