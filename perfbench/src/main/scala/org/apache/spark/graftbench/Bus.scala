package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API lacks: traced counters are read
  * only after every queued event has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
