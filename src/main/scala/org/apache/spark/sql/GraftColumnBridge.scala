package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` Column⇄Expression conversions of Spark 4
  * (the Connect refactor removed the public `new Column(expr)` path). This
  * is the supported classic-mode conversion, just re-exported for the graft
  * expression library.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan built on the driver (for example a
    * `LocalRelation` of catalyst rows), with no encoder round trip.
    */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
