package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{InputAdapter, SortExec, SparkPlan, UnaryExecNode, WholeStageCodegenExec}

/** Two-phase global prefix scan over one range exchange.
  *
  * Scale shape: `OrderedDistribution(order)` makes EnsureRequirements
  * insert ONE range exchange, and `requiredChildOrdering` the
  * per-partition sort above it. `doExecute` then
  *  1. runs one job over the exchange output for the per-partition
  *     subtotals — read below the sort, since a subtotal does not depend
  *     on row order, so each row is sorted once; one value per
  *     partition reaches the driver;
  *  1. seeds partition i with the fold of subtotals 0 … i−1 (the
  *     exclusive scan);
  *  1. streams the sorted child once with `mapPartitionsWithIndex`,
  *     folding row by row.
  * Every stage is balanced across tasks; nothing funnels through one.
  *
  * No guard is needed: the subtotals and the emitted rows come from one
  * shuffle — one `ShuffleDependency` whose `RangePartitioner` bounds are
  * fixed when it is created, and which Spark re-reads (or re-runs map
  * tasks of) rather than re-partitions. There is no cache that could be
  * evicted or dropped by another caller between the two jobs, so
  * partition membership cannot drift between them.
  *
  * PRECONDITION: deterministic input. A map task re-run after a lost
  * executor recomputes its input, and a nondeterministic input would
  * hand the emit pass other rows than its subtotal counted. Rows with
  * equal order keys arrive in shuffle order, so only a total order with
  * unique keys gives a result independent of the partitioning. */
case class PrefixScanExec(
    value: Expression,
    order: Seq[SortOrder],
    fold: PrefixFold,
    out: Attribute,
    child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ out

  override def producedAttributes: AttributeSet = AttributeSet(out)

  override def requiredChildDistribution: Seq[Distribution] =
    OrderedDistribution(order) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override def outputPartitioning: Partitioning = child.outputPartitioning

  /** The plan below the sort that `requiredChildOrdering` put on the
    * exchange (the child itself when no sort was needed). */
  private def unsorted(plan: SparkPlan): SparkPlan = plan match {
    case WholeStageCodegenExec(s: SortExec) => unsorted(s)
    case SortExec(_, false, InputAdapter(below), _) => below
    case SortExec(_, false, below, _) => below
    case _ => plan
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val sorted = child.execute()
    val source = unsorted(child)
    val (fold, value, valueType) = (this.fold, this.value, this.value.dataType)
    val (sourceAttrs, childAttrs, outAttrs) = (source.output, child.output, output)
    val n = sorted.getNumPartitions
    // the last partition's subtotal seeds nothing; one partition, no job
    val subtotals: Seq[Any] = if (n <= 1) Nil else
      sparkContext.runJob(source.execute(), (rows: Iterator[InternalRow]) => {
        val (read, step) = (PrefixScanExec.reader(value, sourceAttrs), fold.step(valueType))
        rows.foldLeft(fold.zero)((acc, r) => step(acc, read(r)))
      }, 0 until n - 1).toSeq
    val seeds = subtotals.scanLeft(fold.zero)(fold.step(valueType)).toArray

    sorted.mapPartitionsWithIndex { (i, rows) =>
      val (read, step) = (PrefixScanExec.reader(value, childAttrs), fold.step(valueType))
      val result = new GenericInternalRow(1)
      val joined = new JoinedRow
      // Downstream consumers require UnsafeRow output.
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      var acc = seeds(i)
      rows.map { r =>
        val v = read(r)
        if (fold.inclusive) acc = step(acc, v)
        result.update(0, acc)
        val emitted = outProj(joined(r, result))
        if (!fold.inclusive) acc = step(acc, v)
        emitted
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PrefixScanExec =
    copy(child = newChild)
}

object PrefixScanExec {
  /** Reads `value` (null: none) from rows of `attrs`; one per task. */
  private def reader(value: Expression, attrs: Seq[Attribute]): InternalRow => Any = {
    val proj = UnsafeProjection.create(Seq(value), attrs)
    row => { val v = proj(row); if (v.isNullAt(0)) null else v.get(0, value.dataType) }
  }
}
