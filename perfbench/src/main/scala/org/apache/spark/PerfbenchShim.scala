package org.apache.spark

/** The listener bus's drain is package-private to Spark. The traced run
  * needs it so that every job and stage event has been counted before the
  * per-layer numbers are read. */
object PerfbenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
