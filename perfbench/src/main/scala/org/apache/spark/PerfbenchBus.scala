package org.apache.spark

/** Access to the package-private live listener bus, so the benchmark can
  * wait until every event posted so far has reached its listener
  * instead of sleeping and hoping. A sleep lets late job and stage
  * events land in the next operation's counters. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
