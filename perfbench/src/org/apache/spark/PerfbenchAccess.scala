package org.apache.spark

/** The one piece of Spark's internals the tracer needs: waiting until the
  * listener bus has delivered every event posted so far.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
