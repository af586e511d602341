package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard pattern for libraries shipping custom Catalyst expressions
  * (same approach as spark-packages ecosystems; Spark 4 moved the classic
  * converters behind `org.apache.spark.sql.classic.ExpressionUtils`). */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every listener-bus event posted so far has reached every
    * listener (`LiveListenerBus.waitUntilEmpty` is `private[spark]`), so
    * counters read afterwards are complete without a fixed sleep. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
