package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is private[spark]; this re-exports the
  * one call a listener reader needs: block until every event posted so
  * far has reached the listeners (the [[ColumnBridge]] pattern). Throws
  * a TimeoutException if the bus is still busy after a minute.
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
