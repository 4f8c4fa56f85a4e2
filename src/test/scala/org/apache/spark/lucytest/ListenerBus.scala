package org.apache.spark.lucytest

import org.apache.spark.SparkContext

/** Test access to the context's private listener bus. */
object ListenerBus {
  /** Blocks until every posted event has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
