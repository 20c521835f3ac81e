package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not offer: the tracer reads
  * its job and query events only after the bus has delivered them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
