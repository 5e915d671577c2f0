package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(Expression)` constructor; the
  * replacement (`classic.ExpressionUtils`) is `private[sql]`. This bridge
  * lives inside the `org.apache.spark.sql` package namespace to re-export
  * the two conversions our custom expressions need — the standard pattern
  * for Catalyst extensions outside the Spark tree.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** The listener bus is `private[spark]` too: blocks until every posted
  * event has been delivered, so listener counters read after an action
  * are complete.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
