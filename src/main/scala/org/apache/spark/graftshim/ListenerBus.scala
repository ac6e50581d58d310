package org.apache.spark.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.Observation

/** Access to the (Spark-private) listener bus. */
object ListenerBus {

  /** Returns once every event posted so far has reached its listeners, so
    * a listener's counts cover every job that already ran (or throws
    * `TimeoutException` after 10 s).
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The metrics of `obs`. An `Observation` completes only when a query
    * containing it finishes, and then through a query-execution listener
    * this bus delivers after the action has returned — so the bus is
    * drained first. Throws `IllegalStateException` when no finished query
    * observed `obs`, rather than wait for one that may never run.
    */
  def observed(sc: SparkContext, obs: Observation): Map[String, Any] = {
    if (!obs.future.isCompleted) drain(sc)
    if (!obs.future.isCompleted)
      throw new IllegalStateException(
        s"observation ${obs.name} read before a query containing it finished")
    obs.get
  }
}
