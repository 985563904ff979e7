package org.apache.spark

/** Bridge into `private[spark]` core surface (the spark-core analog of
  * [[org.apache.spark.sql.GraftSql]]). */
object GraftSpark {

  /** Drain the async listener bus: returns once every queued event has
    * been delivered, so listener-derived diagnostic counters (the traced
    * benchmark's jobs/tasks/executor-time) settle deterministically instead
    * of racing a fixed sleep on a loaded box. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
