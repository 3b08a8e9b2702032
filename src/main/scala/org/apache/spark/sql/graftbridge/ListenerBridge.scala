package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: waits until every
  * listener event posted so far has been delivered, so job, stage and
  * task totals read afterwards are complete.
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
