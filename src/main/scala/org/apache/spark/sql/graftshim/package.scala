package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to `private[sql]` Column↔Expression conversions for graft's
  * custom Catalyst expressions. Spark 4 made `Column` backend-agnostic
  * (ColumnNode), so first-party extensions reach the classic converter
  * through the sql package — the same route Spark's own connectors use.
  */
package object graftshim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The schema a file-source read reports for data written as `st`:
    * every field, nested ones included, nullable. */
  def asNullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = st.asNullable

  /** Wrap a logical plan as a DataFrame (route custom LogicalPlan nodes
    * into a session) — the `Dataset.ofRows` path Spark's own components
    * use, reached through the sql package. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
