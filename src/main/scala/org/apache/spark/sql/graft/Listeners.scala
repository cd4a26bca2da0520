package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Block until the listener bus has delivered every event posted so far
  * (the bus is `private[spark]`). */
object Listeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
