package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the sql-internal Column↔Expression converters for the
  * engine's custom Catalyst expressions — the standard extension-project
  * pattern, and the one way DataFrame code builds a custom-expression
  * column: the expression is wrapped directly, so no session's function
  * registry is involved (the SQL names come from `GraftExtensions` only).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
