package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's `private[sql]` Column↔Expression converters for
  * graft's custom Catalyst expressions. Spark 4 moved Column to a
  * backend-agnostic node tree; classic-backend extension libraries
  * convert through `org.apache.spark.sql.classic.ExpressionUtils`, which
  * is package-private — hence this one-file bridge (the conventional
  * pattern for Catalyst extension libraries).
  */
object GraftSqlBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame — the child a custom logical
    * node wraps (re-analysis of an analyzed subtree is a no-op). */
  def analyzedPlan(df: Dataset[_]): LogicalPlan =
    df.queryExecution.analyzed

  /** DataFrame over a custom logical plan (Dataset.ofRows is
    * private[sql] — same bridge rationale as the converters above). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A scan filter as a source `Filter` (Spark's `protected[sql]`
    * translation), top-level columns only, as manifest stats are. */
  def translateFilter(e: Expression): Option[sources.Filter] =
    execution.datasources.DataSourceStrategy.translateFilter(e,
      supportNestedPredicatePushdown = false)
}
