package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between `Column` and Catalyst `Expression`, used by the typed
  * kernel functions in [[graft.functions]] to wrap a kernel's expression
  * as a `Column` without going through the session's function registry.
  * Spark 4 keeps both conversions `private[sql]`; like
  * `org.apache.spark.ml.graftbridge.ModelFactory`, this shim sits inside
  * the package tree that may call them.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
