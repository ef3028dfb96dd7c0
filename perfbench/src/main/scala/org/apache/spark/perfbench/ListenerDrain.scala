package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Deterministic listener-bus drain. `LiveListenerBus.waitUntilEmpty` is
  * `private[spark]`; this object lives under `org.apache.spark` to reach it.
  * Returns false when the bus did not drain within the timeout. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
