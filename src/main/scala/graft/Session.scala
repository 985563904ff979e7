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
      // Let AQE re-plan CACHED relations too: a persisted intermediate then
      // adopts AQE-coalesced partitioning (sized by
      // advisoryPartitionSizeInBytes) instead of the static shuffle
      // partition count. The queries it was measured on
      // (events_cooccurrence, sim_triangles) no longer persist. On the
      // remaining in-query persists it measured no faster at sf0.1 on
      // 4 cores (cold cache, min of 5, 5 alternating on/off pairs):
      // dedup_winnow_pairs 2819 vs 2772 ms, dedup_incremental_lsh 1310 vs
      // 1154 ms, the 16x4 MinHash geometry 1232 vs 835 ms. Results are
      // partitioning-independent by repo discipline (exact-integer /
      // decimal aggregates only) and the full oracle sweep re-proves it.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
  }
}
