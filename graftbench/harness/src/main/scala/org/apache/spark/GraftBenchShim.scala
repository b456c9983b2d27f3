package org.apache.spark

/** Access to the `private[spark]` listener-bus drain, so counters read
  * after a call include every event that call posted.
  */
object GraftBenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
