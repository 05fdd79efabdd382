package org.apache.spark

/** Lets a spec wait until every posted listener event has been delivered,
  * so a listener's counts are complete before they are asserted. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
