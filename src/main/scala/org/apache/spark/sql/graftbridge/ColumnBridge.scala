package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the classic `Column` ⇄ `Expression` converters, which became
  * `private[sql]` in Spark 4's Column-node refactor. Every graft custom
  * Catalyst expression is exposed as a typed `column(...)` constructor
  * through here; state that SQL cannot express (e.g.
  * [[graft.plans.KeyedOffsetRunningSum]]'s offsets table, a parse
  * generator's field specs) rides along as plain case-class fields.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
