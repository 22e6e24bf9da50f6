package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one place graft reaches Spark API that Spark keeps package-private
  * (`private[sql]` / `private[spark]`), which is why it lives in this
  * package. Everything else in graft uses public or Catalyst API.
  */
object SparkInternals {

  /** A Column over a Catalyst expression, as Spark's own `functions` build
    * theirs: the expression goes into the plan as is, with no function
    * registry lookup.
    */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The (unresolved) Catalyst expression of a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every queued listener event has been delivered, so that
    * counts taken from a listener cover all jobs, stages and tasks run so far.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
