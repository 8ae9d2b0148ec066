package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Drain the listener bus so per-query job/stage counters
  * (graft.GraftSession.counted) read a settled value. `listenerBus` is
  * private[spark], hence this one-liner lives under the org.apache.spark
  * namespace — the standard extension-point trick, same as the Catalyst
  * expressions in this package. Only the harness paths drain (Bench,
  * Verify, tests); no operator does.
  */
object ListenerSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
