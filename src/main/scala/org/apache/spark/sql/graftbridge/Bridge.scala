package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4's Column is connect-compatible and no longer exposes `.expr`;
  * the classic bridge (`ExpressionUtils`) is `private[sql]`. This shim
  * lives in the sql package namespace to re-export the two conversions the
  * library's native expressions need — the same mechanism
  * `org.apache.spark.sql.functions` uses internally.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The materialized RDD behind a checkpointed Dataset (`LogicalRDD` is
    * `private[sql]`): lets iterative algorithms free the PREVIOUS round's
    * checkpoint blocks deterministically instead of waiting for the async
    * ContextCleaner to GC them. None for non-checkpointed frames. */
  def checkpointedRdd(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Block until the listener bus has delivered every event posted so
    * far (`listenerBus` is `private[spark]`): a listener's roll-up of the
    * query just run is complete once this returns. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
