package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * job and task counts read after a phase are complete.
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
