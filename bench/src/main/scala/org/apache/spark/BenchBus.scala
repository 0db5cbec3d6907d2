package org.apache.spark

/** Waits until every queued listener event has been delivered, so task
  * metrics read right after a job are complete. The listener bus is
  * package-private; this is the one reach inside it.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
