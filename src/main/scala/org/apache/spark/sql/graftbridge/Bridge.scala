package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Column <-> Expression bridge.
  *
  * Spark 4 moved Column onto ColumnNode and made the Expression
  * conversions `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`).
  * This one-file shim re-exports exactly those conversions to our
  * engine — the standard pattern for libraries that ship custom Catalyst
  * expressions against Spark 4.x — and the listener-bus drain a query
  * profile needs.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** The expression converted now rather than at analysis (where
    * [[expression]] defers it): for literal columns evaluated on the
    * driver, outside any plan.
    */
  def convertedExpression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** Waits until the listener bus has delivered every event posted so
    * far (`private[spark]`): a profile reads its job and task events
    * only after this.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
