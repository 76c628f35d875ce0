package org.apache.spark

/**
 * Blocks until every event posted to the Spark listener bus so far has
 * been delivered to every listener. The bus is asynchronous: counters
 * read right after an action returns can miss its trailing stage and
 * task events, or see them bleed into the next measurement.
 * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence this shim
 * lives in Spark's package.
 */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
