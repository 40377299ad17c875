package org.apache.spark

/** Access to the listener bus, which is private to Spark: the tracer must
  * see every task-end event of a span before it reads the span's counters.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
