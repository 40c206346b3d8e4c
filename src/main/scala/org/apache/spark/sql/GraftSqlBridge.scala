package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` surface — the established pattern for
  * Spark extension libraries that define native Catalyst expressions (the
  * Column ⇄ Expression converters live behind `private[sql]` in Spark 4).
  * Everything else in graft stays outside the Spark namespace.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame — input for custom LogicalPlan
    * nodes built from already-resolved children (graft.plans.AsOfJoin). */
  def analyzedPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Whether the session's planner already carries `strategy` (installed
    * via SparkSessionExtensions or experimental methods) — lets callers
    * avoid double-registering on extension-built sessions. */
  def hasPlannerStrategy(spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Boolean =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.planner.strategies.contains(strategy)

  /** Wrap a logical plan back into a DataFrame. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over an RDD of Catalyst rows of `schema`, without the
    * `Row` conversion `createDataFrame` runs (graft.operators.VertexDegree's
    * range merge emits its degrees this way). */
  def fromInternalRows(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
