package org.apache.spark

/** The listener bus drain is private to Spark. The traced run needs it so
  * that every event of a span has reached the benchmark's listener before
  * the span closes. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
