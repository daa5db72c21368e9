package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events arrive after the call that caused them returns; specs
  * that count jobs drain the bus first. `listenerBus` is package-private to
  * Spark, hence this file's package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
