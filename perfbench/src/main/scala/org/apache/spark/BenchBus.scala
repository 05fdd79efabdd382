package org.apache.spark

/** Lets the harness wait until every posted listener event has been
  * delivered, so a phase's counters are complete before they are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
