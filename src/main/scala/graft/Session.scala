package graft

import org.apache.spark.sql.SparkSession

/** The one local session every runnable main (Bench, Verify, Explain,
  * ScaleCheck, GenData, Serve) and the test suite start from, so the specs
  * and the oracle differential certify exactly the plans the bench times.
  * Callers set their own log level, and any per-caller SQL setting with
  * `spark.conf.set` after creation.
  */
object Session {

  def local(): SparkSession = {
    // $SPARK_GRAFT_CPUS clamped to the effective cgroup/processor budget:
    // local[N] far above the granted CPUs oversubscribes the scheduler and
    // degrades every CPU-bound task
    val cpus = Cpus.effectiveStr()
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
  }
}
