package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus: blocks until every
  * event posted so far has reached its listeners, so counts a listener
  * keeps are complete when read. Throws `TimeoutException` when the bus
  * does not drain within `timeoutMs`. */
object GraftListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
