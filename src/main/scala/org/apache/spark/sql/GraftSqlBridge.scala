package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge to `private[sql]` Column↔Expression conversion — the standard
 * pattern for libraries shipping custom Catalyst expressions on Spark 4's
 * split (api/classic) Column (cf. SNIPPETS.md [2], Qbeast's
 * `DatasetFactory` placed in `org.apache.spark.sql` for the same reason).
 */
object GraftSqlBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Blocks until every event posted to the listener bus so far has
    * reached every listener. The bus is asynchronous: counters read
    * right after an action returns can miss its trailing stage events,
    * or see them bleed into the next measurement. `waitUntilEmpty` is
    * `private[spark]`, which this package can reach. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
