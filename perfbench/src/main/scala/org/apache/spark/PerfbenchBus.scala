package org.apache.spark

/** The listener bus's drain is package-private to Spark; the tracer
  * needs it so a span's events are all handled before it is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
