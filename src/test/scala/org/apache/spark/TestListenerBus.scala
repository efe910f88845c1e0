package org.apache.spark

/** Test access to the listener bus: waits until every queued event has
  * been delivered, so a listener has seen all jobs started so far. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
