package org.apache.spark

/** The listener bus drain is Spark-internal; the traced run needs it so
  * counters read after a span include every event the span caused. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
