package org.apache.spark.sessionbench

import org.apache.spark.SparkContext

/** The listener bus is delivered on its own thread. Span boundaries drain it
  * so counters read at a boundary include every event of the work before it.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
