package org.apache.spark

/** `private[spark]` access: block until every posted listener event has
  * been delivered, so counters read afterwards include all jobs of the
  * call that just returned.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
