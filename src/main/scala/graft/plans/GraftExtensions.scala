package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Plans [[AsOfJoin]] as [[AsOfJoinExec]]; everything else falls through
  * to the built-in strategies. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tb) =>
      AsOfJoinExec(lk, rk, lt, rt, tb, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Plans [[PrefixScan]] as [[PrefixScanExec]]. */
object PrefixScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PrefixScan(value, order, fold, out, child) =>
      PrefixScanExec(value, order, fold, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Session-extension registration — the canonical deployment path:
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. For sessions built
  * elsewhere, `graft.ops.Joins.asOf` and `graft.ops.Pipeline.prefixScan`
  * also self-register their strategy via
  * `spark.experimental.extraStrategies` so the operators work on any
  * session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectPlannerStrategy(_ => AsOfJoinStrategy)
    extensions.injectPlannerStrategy(_ => PrefixScanStrategy)
    extensions.injectOptimizerRule(_ => RangeJoinRewrite)
  }
}
