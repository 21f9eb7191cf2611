package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Converts between Columns and Catalyst expressions for graft's Column
  * helpers, which build their expression directly instead of calling a
  * registered function by name. `ExpressionUtils` is `private[sql]` to
  * the Scala compiler (public in bytecode), hence this package. */
object ExpressionBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
