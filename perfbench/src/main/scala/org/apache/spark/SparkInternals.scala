package org.apache.spark

/** The one Spark-internal call the tracer needs: listener events are
  * delivered asynchronously, so a span may only read its counters once the
  * bus has drained the events of the jobs it ran. */
object SparkInternals {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
