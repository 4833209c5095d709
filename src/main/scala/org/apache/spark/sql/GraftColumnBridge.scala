package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between graft's custom Catalyst expressions and the public Column
  * API. Spark 4 routes Column through ColumnNode (Connect refactor), so the
  * Expression↔Column converters live in `org.apache.spark.sql.classic` with
  * `private[sql]` access — this object re-exports them for graft.
  */
object GraftColumnBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

/** Catalyst's runtime errors, for driver-side mirrors of its expressions. */
object GraftErrorBridge {
  def divideByZero(): ArithmeticException = errors.QueryExecutionErrors.divideByZeroError(null)
}
