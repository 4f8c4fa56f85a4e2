package org.apache.spark.perfbenchaccess

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; a traced run must see every
  * event before it reads its counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
