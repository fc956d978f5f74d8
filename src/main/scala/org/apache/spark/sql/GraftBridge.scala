package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard pattern for libraries that add native Catalyst expressions on
  * Spark 4.x (where `new Column(expr)` no longer exists). Kept to the two
  * minimal entry points. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a hand-constructed logical plan (the custom-
    * operator entry point; `Dataset.ofRows` is `private[sql]`). */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Idempotently add a planner strategy to a live session — the one way
    * the custom operators' strategies are registered, so they work on any
    * session, however it was built. */
  def registerStrategy(
      spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.synchronized { // two callers appending at once must not drop one
      if (!exp.extraStrategies.contains(strategy))
        exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }
}
