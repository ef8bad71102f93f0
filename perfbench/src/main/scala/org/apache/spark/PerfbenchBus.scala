package org.apache.spark

/** Spark's listener bus is private to the `org.apache.spark` package; the
  * harness reaches it through this object to wait for pending events. */
object PerfbenchBus {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
