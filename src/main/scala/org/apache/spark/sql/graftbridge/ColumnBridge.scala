package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Spark 4 removed the public `Column(expr)` / `col.expr` bridge, and
  * the supported internal hatches (`org.apache.spark.sql.classic.
  * ExpressionUtils`, `Dataset.ofRows`) are `private[sql]`, so this one-file
  * shim lives under the `org.apache.spark.sql` package tree to re-export
  * them: Column ↔ Expression for graft's custom Catalyst expressions, and
  * parse-then-analyze for front-ends that rewrite the unresolved plan
  * (`SqliteCompat`). No Spark internals are modified. */
object ColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** The session parser's unresolved plan for a SQL text. */
  def parse(spark: SparkSession, text: String): LogicalPlan =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser.parsePlan(text)
  /** Analyze `plan` eagerly, as `spark.sql` does; analysis errors throw here. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
