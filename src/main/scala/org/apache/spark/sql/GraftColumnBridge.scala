package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ⇄ Expression conversions
  * (`classic.ExpressionUtils`). Spark 4's public Column API is
  * connect-agnostic and exposes no Expression constructor; this is the
  * same mechanism Spark's own classic-API internals use, isolated here so
  * graft code stays outside Spark's namespace everywhere else. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
