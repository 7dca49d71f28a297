package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a traced operation's events can be attributed to it before the next
  * one starts. The listener bus is private to the `spark` package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
