package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryCompilationErrors

/** Column ↔ Catalyst expression conversions and the wrong-argument-count
  * error, for graft's native kernels (Spark keeps all three private to its
  * own packages). */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def wrongNumArgs(name: String, arity: Int, actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(name, Seq(arity), actual)
}
