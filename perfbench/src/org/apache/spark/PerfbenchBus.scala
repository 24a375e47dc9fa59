package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so a traced pass's jobs, stages and planning records are
  * complete before the next pass starts. Only the traced run calls it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
