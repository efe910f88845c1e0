package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * trace recorder has seen the last task of the run before it is written. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
