package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one `private[sql]` doorway the engine needs: wrap a Catalyst
  * [[Expression]] as a user-facing [[Column]] (and back). Lives inside
  * Spark's `sql` package purely for access — no Spark internals are
  * modified. [[graft.GraftFunctions.call]] builds every named kernel
  * through it, so no session function registry is involved; it also
  * lets expressions whose constructor takes non-Expression state
  * (e.g. [[graft.expr.SemRouteExpr]]'s router tensors) ride into a
  * plan without a per-instance session function pinning that state
  * for the session's lifetime. */
object ExprColumn {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
