package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously. The runner reads its
  * listeners only after every event posted so far has been delivered. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
