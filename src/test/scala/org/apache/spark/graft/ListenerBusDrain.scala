package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus, whose drain is package-private:
  * after `drain` every event posted so far has reached the listeners. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
