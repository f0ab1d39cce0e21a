package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge for custom Catalyst expressions.
  *
  * Spark 4's public `Column` no longer exposes `.expr`, and the classic-API
  * helpers are `private[sql]`; this is the conventional extension seam for
  * libraries shipping native expressions (same approach as third-party Spark
  * connectors/UDF libraries).
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached the listeners
    * (the listener bus is asynchronous and `private[spark]`).
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
