package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression conversion for graft's native
  * expressions that are built per query (and so are not registered as
  * SQL functions): `ExpressionUtils` is `private[sql]`, reachable only
  * from this sub-package — the same connector trick as
  * [[StreamingBridge]].
  */
object ColumnBridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
