package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to the package-private Column↔Expression converters —
  * the standard extension seam for libraries registering native Catalyst
  * expressions against Spark 4.x (Column is ColumnNode-backed there).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** The error Spark's `/` raises on a zero divisor in ANSI mode. */
  def divideByZero(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)
}
