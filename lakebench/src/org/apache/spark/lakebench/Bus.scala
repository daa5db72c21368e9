package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's listener bus threads after the call
  * that caused them has returned. The traced run waits for the bus to
  * drain at the end of each op, so every job, task and query-phase event of
  * the op is recorded before its spans are closed. `listenerBus` is
  * package-private to Spark, hence this file's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
