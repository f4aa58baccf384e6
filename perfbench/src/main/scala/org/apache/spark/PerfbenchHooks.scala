package org.apache.spark

/** Access to the `private[spark]` listener bus: the benchmark reads its
  * listener's counters only after every event of the measured work has
  * been delivered. */
object PerfbenchHooks {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
