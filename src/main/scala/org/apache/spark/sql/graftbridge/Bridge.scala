package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Escape hatch for Spark 4's `private[sql]` Column↔Expression
  * conversion (the usual pattern for Spark extension libraries).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Runs `f` with `spark` as the thread's active session. */
  def withActive[T](spark: org.apache.spark.sql.SparkSession)(f: => T): T =
    spark.withActive(f)

  /** Bounded drain of the async listener bus (`private[spark]`,
    * reachable from this subpackage). Returns false when events were
    * still queued at the deadline — callers render what arrived.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext,
      timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch {
      case _: java.util.concurrent.TimeoutException => false
      // a stopped context's bus may reject the wait — same answer
      case scala.util.control.NonFatal(_)           => false
    }
}
