package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors

/** Minimal accessor for the private[sql] Expression <-> Column
  * conversions — the standard pattern for libraries shipping custom
  * Catalyst expressions outside Spark's own source tree — and for the one
  * Spark error a replacement aggregate must raise identically. Nothing
  * else of Spark's internals is reached through here. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `percentile`'s error for a negative frequency. */
  def negativeValueError(e: Expression, v: Long): Throwable =
    QueryExecutionErrors.negativeValueUnexpectedError(e, v)
}
