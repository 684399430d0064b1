package org.apache.spark

/** Flushes the asynchronous listener bus so a listener has seen every
  * event posted so far (the bus is private to Spark's own packages). */
object PerfbenchListenerBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
