package org.apache.spark

/** Waits until the scheduler's listener bus has delivered every event
  * posted so far, so the benchmark's listeners have seen all the jobs of
  * the traced window before they are read. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
