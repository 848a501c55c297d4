package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, IntegralDivide}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.functions.lit

/** Bridge between the public `Column` API and Catalyst `Expression`s.
  * Spark 4 wraps columns in `ColumnNode`s; the classic-mode adapter
  * (`ExpressionUtils`) is `private[sql]`, so this shim lives under
  * org.apache.spark.sql — the standard pattern for Spark extensions
  * that construct Catalyst expressions directly.
  */
object Bridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toCol(e: Expression): Column = ExpressionUtils.column(e)

  /** Integer division that stays in the long domain. Epoch-nanosecond
    * magnitudes (~1.7e18) exceed 2^53, so the double-valued `/` operator
    * would silently round; Catalyst's `IntegralDivide` (SQL `div`) is
    * exact and codegen'd.
    */
  /** Catalyst's ANSI DIVIDE_BY_ZERO error (`QueryExecutionErrors` is
    * `private[sql]`), for kernels that replay `Divide`.
    */
  def divideByZero(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)

  def ldiv(c: Column, d: Long): Column =
    toCol(IntegralDivide(toExpr(c), toExpr(lit(d))))

  def ldiv(c: Column, d: Column): Column =
    toCol(IntegralDivide(toExpr(c), toExpr(d)))

  /** FLOOR division (toward -infinity), matching Python's `//`, DuckDB's
    * `//` and java.lang.Math.floorDiv — `ldiv`/SQL `div` truncate toward
    * zero, which buckets pre-1970 (negative-epoch) timestamps wrongly.
    * Implemented as (c - pmod(c, d)) div d: the numerator is an exact
    * multiple of d, so the truncating divide is exact.
    */
  def fldiv(c: Column, d: Long): Column = {
    val f = org.apache.spark.sql.functions
    ldiv(c - f.pmod(c, f.lit(d)), d)
  }
}
