package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the classic `Column` ⇄ `Expression` converters, which became
  * `private[sql]` in Spark 4's Column-node refactor. Needed by graft's
  * custom Catalyst expressions that carry non-SQL-representable state
  * (e.g. [[graft.plans.KeyedOffsetRunningSum]]'s offsets table) and so can't
  * go through `FunctionRegistry` + `expr(...)` like the rest.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
