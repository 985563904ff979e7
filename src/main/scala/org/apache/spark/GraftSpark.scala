package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge into `private[spark]` core surface (the spark-core analog of
  * [[org.apache.spark.sql.GraftSql]]). */
object GraftSpark {

  /** Drain the async listener bus: returns once every queued event has
    * been delivered, so listener-derived diagnostic counters (the traced
    * benchmark's jobs/tasks/executor-time) settle deterministically instead
    * of racing a fixed sleep on a loaded box. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Drop a locally checkpointed RDD's blocks. `RDD.unpersist` does the same
    * but warns that the lineage is gone, once per released table: callers
    * release only RDDs nothing reads again. */
  def release(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Drop the blocks of every local checkpoint `df`'s plan reads. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }.foreach(release(_))
}
