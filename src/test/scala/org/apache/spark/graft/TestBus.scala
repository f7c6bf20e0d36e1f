package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The context's listener bus (private[spark]) for tests that count
  * events: draining it delivers every event posted so far. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
