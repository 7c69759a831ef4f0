package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a test listener's view of the jobs it counts is complete.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
