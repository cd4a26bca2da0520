package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * listener bus has delivered every event posted so far, so a trace
  * dumped after the last action is complete. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
