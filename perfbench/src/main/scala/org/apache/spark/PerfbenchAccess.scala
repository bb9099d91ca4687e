package org.apache.spark

/** The one Spark-internal hook the tracer needs: listener events are
  * delivered asynchronously, so before reading per-span counters the
  * harness waits until the bus has delivered everything posted so far.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
