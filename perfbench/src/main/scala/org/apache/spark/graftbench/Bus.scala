package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events reach listeners asynchronously; the traced run drains
  * the bus before reading what its listeners collected. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
