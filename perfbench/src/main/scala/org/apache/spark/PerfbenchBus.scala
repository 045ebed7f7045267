package org.apache.spark

/** Listener events arrive asynchronously. A measurement that reads a
  * listener's counters right after an action waits here until every
  * event posted so far has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
