package org.apache.spark

/** `private[spark]` access for tests: block until every posted listener
  * event has been delivered, so a listener's counters read afterwards
  * include all jobs of the call that just returned.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
