package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** A [[Column]] straight from a Catalyst expression — the conversion
  * Spark keeps private to `org.apache.spark.sql`. Lets an operator use an
  * expression that carries runtime state (a broadcast handle) without
  * registering it as a session function. */
object ColumnFactory {
  def of(e: Expression): Column = ExpressionUtils.column(e)
}
