package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` surface: wraps a raw Catalyst [[Expression]]
  * as a user-facing [[Column]] (Spark 4 routes this through
  * `classic.ExpressionUtils`). The one blessed pattern for exposing custom
  * codegen expressions from a library without forking Spark.
  */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — the bridge a library
    * needs to surface a custom [[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]
    * operator through the public Dataset API. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `s` with every field, array element and map value nullable — the
    * schema a file-source read of data written with `s` reports. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** The analyzed logical plan of a DataFrame (for composing custom plans). */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}
