package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Test access to the (Spark-private) listener bus. */
object ListenerBus {

  /** Returns once every event posted so far has reached its listeners, so
    * a listener's counts cover every job that already ran.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
