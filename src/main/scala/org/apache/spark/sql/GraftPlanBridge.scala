package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Package-private bridge: building a DataFrame from a custom LogicalPlan
  * (graft.plans.TopKPerKeyPlan) needs `Dataset.ofRows`, and handing the
  * planner a native expression as a Column (graft.functions.GraftFunctions
  * .call) needs `ColumnConversions`/`ExpressionUtils`; all are `private[sql]` — the standard
  * extension-library pattern is a single forwarder object inside the
  * `org.apache.spark.sql` package.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  def expression(c: Column): Expression = classic.ColumnConversions.expression(c)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
