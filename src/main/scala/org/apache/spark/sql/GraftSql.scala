package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column<->Expression conversion for
  * graft's custom Catalyst expressions (the Spark-4 Column wraps a
  * ColumnNode, so `new Column(expr)` no longer exists; the supported
  * in-repo converter is classic.ExpressionUtils, which is private[sql]).
  */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** [[expression]] converted now rather than at analysis, so an
    * expression built on it prints its input (`f('s)`) instead of a
    * lazy placeholder. */
  def converted(c: Column): Expression = classic.ColumnNodeToExpressionConverter(c.node)
}
