package org.apache.spark.perfbenchglue

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; this is its only use. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
