package org.apache.spark

/** Test access to the package-private live listener bus: wait until
  * every event posted so far has reached its listeners, so a counter
  * read afterwards holds exactly the jobs of the calls made before it.
  * A sleep would let late events land in the next measurement. */
object GraftTestBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
