package org.apache.spark

/** Waits until every event posted so far reached the listeners, so a test
  * can read a listener's tallies right after the jobs it ran.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
