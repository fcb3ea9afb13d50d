package org.apache.spark

/** Drains Spark's asynchronous listener bus, so every job, task and
 *  query-execution event posted so far has reached the benchmark's
 *  listeners before it reads them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
