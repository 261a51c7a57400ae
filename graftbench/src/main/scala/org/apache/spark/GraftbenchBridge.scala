package org.apache.spark

/** The one Spark-internal call the benchmark's tracer needs: block until
  * the listener bus has delivered every event posted so far, so per-batch
  * job and task records are complete before they are read. */
object GraftbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
