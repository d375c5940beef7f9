package org.apache.spark

/** The listener bus's drain is package-private; the benchmark waits on it
  * so a phase's counters include every event that phase posted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
