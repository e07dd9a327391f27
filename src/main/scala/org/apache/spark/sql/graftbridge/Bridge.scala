package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Column↔Expression conversion (the
  * supported classic-API helpers are package-private in Spark 4.x; an
  * extension living outside org.apache.spark.sql needs this one-hop
  * re-export — a standard pattern for OSS Spark extensions). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Session function registry (private[sql] via sessionState) — needed by
    * GraftExtensions.register for live-session function registration. */
  def functionRegistry(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry

  /** Blocks until the listener bus has delivered every queued event
    * (`listenerBus` is private[spark]); counters read from a listener are
    * complete only after this. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
