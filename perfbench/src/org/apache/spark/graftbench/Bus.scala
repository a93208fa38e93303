package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Reaches the `private[spark]` listener bus, so the benchmark reads its
  * listeners only after every posted event has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
