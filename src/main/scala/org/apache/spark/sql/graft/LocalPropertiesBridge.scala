package org.apache.spark.sql.graft

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/** `SparkContext.getLocalProperties`/`setLocalProperties` are
  * private[spark]; this re-exports them so work handed to a pooled
  * thread runs under the submitting thread's job group, description,
  * scheduler pool and tags, as `SQLExecution.withThreadLocalCaptured`
  * does (the [[ColumnBridge]] pattern).
  */
object LocalPropertiesBridge {
  /** A copy of the calling thread's local properties. */
  def capture(sc: SparkContext): Properties = Utils.cloneProperties(sc.getLocalProperties)

  /** Runs `body` under a copy of `props`, then restores the thread's own. */
  def withProperties[A](sc: SparkContext, props: Properties)(body: => A): A = {
    val own = sc.getLocalProperties
    sc.setLocalProperties(Utils.cloneProperties(props))
    try body finally sc.setLocalProperties(own)
  }
}
