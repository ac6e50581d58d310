package org.apache.spark.refreshbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listener has seen all of an operation's jobs before the
  * operation's figures are read. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
