package org.apache.spark.sql.graft

import org.apache.spark.sql.errors.QueryExecutionErrors

/** Spark SQL's own errors, for kernels that evaluate an operator outside
  * a Catalyst expression and must fail exactly as the expression would.
  */
object SqlErrors {
  /** The DIVIDE_BY_ZERO error `/` raises under ANSI mode. */
  def divideByZero(): ArithmeticException = QueryExecutionErrors.divideByZeroError(null)
}
