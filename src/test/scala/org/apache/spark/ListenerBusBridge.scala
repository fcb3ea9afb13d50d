package org.apache.spark

/** Test access to the listener bus: wait until every event posted so far
 *  has reached its listeners, so a listener's counts are complete. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
