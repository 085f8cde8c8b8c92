package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * traced span can claim the jobs, stages and queries it caused before the
  * next span starts. Lives in this package because the listener bus is
  * `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
