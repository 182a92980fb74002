package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to the `private[sql]` Expression⇄Column converters in
  * Spark 4's classic API (columnNodeSupport.scala), plus the few other
  * package-private hooks graft needs. Lives under `org.apache.spark.sql`
  * solely to satisfy the access modifiers.
  */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Replay the function builders injected into `ext` onto a live
    * session's registry (`sessionState` / `registerFunctions` are
    * `private[sql]`).
    */
  def registerInjectedFunctions(ext: org.apache.spark.sql.SparkSessionExtensions,
                                spark: org.apache.spark.sql.SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ext.registerFunctions(classic.sessionState.functionRegistry)
  }

  /** Block until every event posted so far has reached every listener
    * (`listenerBus` is `private[spark]`): listener delivery is
    * asynchronous, so a reader of listener-collected state calls this
    * first instead of sleeping and hoping.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
