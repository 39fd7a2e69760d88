package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark 4's private[sql] Column↔Expression converters, needed
  * to expose custom Catalyst expressions (graft.functions.expressions)
  * as user-facing Columns. The pre-4.0 `new Column(expr)` constructor is
  * gone; this is the one sanctioned hop into the classic API.
  */
/** Public face of Spark's `private[sql]` update-as-append marker
  * (`SupportsStreamingUpdateAsAppend`, what Delta's write builder
  * declares): a streaming query in Update output mode writes its
  * changed rows as APPENDS — the engine accepts the mode instead of
  * rejecting it, and the sink's semantics are documented as
  * append-of-updates. */
trait GraftStreamingUpdateAsAppend
  extends org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend

object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame — the resolved child a custom
    * logical operator (graft.plans) composes over. */
  def analyzed(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** DataFrame over a custom LogicalPlan (the pre-4.0 `Dataset.ofRows`). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Register a SQL function on a LIVE session's function registry —
    * extensions bind at session build; this is the post-hoc path. */
  def registerFunction(spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(id, info, builder)

  def registerTableFunction(spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState
      .tableFunctionRegistry.registerFunction(id, info, builder)
}
