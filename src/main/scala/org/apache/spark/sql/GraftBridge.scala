package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge for graft's native expressions.
  * `classic.ExpressionUtils` is private[sql]; this shim is the
  * conventional extension point for libraries adding Catalyst
  * expressions (same approach as public Spark extensions, cf.
  * SNIPPETS.md [2]/[3]).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Interpreted ascending ordering for any orderable Catalyst type
    * (TypeUtils is private[sql]) — used by graft's bounded top-n
    * aggregate to honor per-key sort directions.
    */
  def interpretedOrdering(dt: org.apache.spark.sql.types.DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(dt)

  /** Blocks until every event posted so far has reached its listeners
    * (`SparkContext.listenerBus` is private[spark]), so counters a
    * listener keeps are complete when read.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
