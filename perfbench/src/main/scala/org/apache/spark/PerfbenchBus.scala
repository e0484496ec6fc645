package org.apache.spark

/** Waits until every queued listener event has been delivered, so a traced
  * pass's counters are complete before they are read (the bus is
  * asynchronous and its drain is package-private).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
