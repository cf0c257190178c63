package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these converters
  * `private[sql]` (Connect split); extension libraries reach them from
  * an `org.apache.spark.sql` sub-package — the standard pattern for
  * native-expression add-ons. */
object ExprBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's ANSI `DIVIDE_BY_ZERO` error, for native expressions that
    * divide the way `Divide` does. */
  def divideByZero(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)

  /** Apply an extensions object's function injections to an existing
    * registry (normally done by the session builder; exposed so tests
    * and late-bound sessions can install them too). */
  def installFunctions(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      registry: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): Unit =
    ext.registerFunctions(registry)
}
