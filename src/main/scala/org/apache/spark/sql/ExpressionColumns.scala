package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Catalyst expression conversion for graft's native
  * expressions: the package-private `classic.ExpressionUtils`. A Column
  * helper builds its expression over the argument columns directly, so
  * it needs no function registered on the session. */
object ExpressionColumns {

  /** A Column over `e`. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The expression behind `c`, to be used as a child of a native
    * expression; it resolves when the enclosing plan is analyzed. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
