package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so a spec's listener has seen every job started so far. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
