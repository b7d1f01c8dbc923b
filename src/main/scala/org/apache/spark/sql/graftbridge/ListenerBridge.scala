package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the same access
  * route as [[ColumnBridge]]. */
object ListenerBridge {
  /** Blocks until every event posted so far has reached every listener,
    * so counts read afterwards include the jobs that already returned. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
