package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fleet-wide physical-plan audit: every declared query's optimized plan is
  * scanned for the scale anti-patterns. One spec so a future operator can't
  * land with a quadratic plan unnoticed.
  *
  *   - CartesianProduct: never, anywhere.
  *   - BroadcastNestedLoopJoin: only where a small-side × corpus scan is
  *     the intended plan (brute-force scoring, LSH plane projection, one-row
  *     scalars), and exactly the listed count.
  *   - Single-partition SORTS (a global window/sort funneling a relation
  *     through one task): only over the enumerated reduced-size-class
  *     relations, and never more per query than today.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** One planning pass shared by every audit below. */
  private lazy val plans: Map[String, String] =
    SparkEntry.declared.map { q =>
      val p =
        try PlanChecks.formatted(q.fn(spark, TestSpark.Sf0001))
        catch { case e: Throwable => fail(s"${q.name} failed to plan: $e") }
      q.name -> p
    }.toMap

  /** query → its exact number of BNLJ nodes (planned at sf0.001). */
  private val bnlAllowed: Map[String, Int] = Map(
    // the index-side BNLJs (brute-force query batch, plane projections,
    // IVF/PQ probes) run inside artifact builds, which these plans only read
    "sim_dim_truncation" -> 1, // broadcast query batch × corpus (≠ condition)
    "sim_hard_negatives" -> 1, // broadcast anchor batch × corpus (≠ condition)
    "rel_zorder_skipping" -> 1, // one-row min/max stats scalar
    "sample_size_biased" -> 1, // one-row corpus-max scalar
    "rel_hll_union" -> 1, // one-row merged-sketch scalar × one-row direct scalar
    "rel_range_join" -> 1, // 4-row tier table, non-equi band condition
    "events_rfm" -> 3, // three one-row quintile-threshold scalars
    // (pinned-interpolation thresholds: one per metric, round 7)
    "events_time_to_convert" -> 1, // one-row totals x one-row pinned-percentile scalar
    "sim_recall_eval" -> 1, // one 1-row scalar join
    "rel_bloom_probe" -> 1, // one-row bits_set scalar folded in
    "dedup_bbit_minhash" -> 1, // one 1-row count scalar
    "sim_nprobe_curve" -> 1, // one-row hit-agg x one-row candidate-agg scalars
    "text_bpe_merge" -> 2, // one-row best-pair scalar, used twice
    // (merge projection + applied_merge output column)
    "events_cooccurrence" -> 1, // one-row corpus-user-count scalar
    "events_power_users" -> 1, // one-row total-events scalar
    "events_anomaly_days" -> 1, // one-row daily-stats scalar
    "sample_mixture_weights" -> 1, // one-row corpus-total scalar
    "sample_mixture_apply" -> 1, // inherits mixtureWeights' one-row scalar
    "dedup_lsh_recall" -> 2, // two 1-row count scalars joined to the tp row
    "dedup_impact" -> 1, // 1-row before-aggregate × 1-row after-aggregate
    "dedup_modality_agreement" -> 2, // two 1-row count scalars
    "sample_token_budget" -> 1, // the solved 1-row cap joined onto the
    // domain-sized relation (totals fold into the single window pass)
    "events_drift" -> 1) // observed-days × observed-types grid completion
    // (both sides are distinct-aggregates of the day×type count relation)

  test("no declared query plans a cartesian product; BNLJ only where designed") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    plans.foreach { case (name, plan) =>
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      val bnl = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(plan).size
      if (bnl != bnlAllowed.getOrElse(name, 0))
        offenders += s"$name: $bnl BNLJ (listed ${bnlAllowed.getOrElse(name, 0)})"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** query → max single-partition sorts, each with its size-class
    * argument. Everything here sorts a REDUCED relation (or is the
    * under-gate regime of a row-gated window whose over-gate form is
    * separately asserted exchange-free in TwoPassSpec). A new query — or
    * a refactor that regrows a global window over a corpus-sized relation
    * — fails the audit below until it is gated or argued onto this list. */
  private val singlePartitionSortsAllowed: Map[String, Int] = Map(
    // row-gated windows (TwoPass): the audit plans the DEFAULT path at
    // sf0.001, which is the documented under-gate single-task regime;
    // TwoPassSpec pins the over-gate plan at zero single-partition sorts
    "text_token_shards" -> 1,
    "mm_shard_manifest" -> 1,
    "sample_curriculum" -> 1,
    "rel_skyline" -> 1, // gated running-max over the part relation
    "events_power_users" -> 2, // gated ntile + the ten-row decile cumsum
    // calendar/day cardinality (thousands of rows at any corpus size)
    "analytics_mom_growth" -> 1, // month-cardinality lag window
    "events_new_users" -> 1, // day-cardinality cumulative sum
    "events_survival" -> 1, // distinct-lifetime (≤ observed days) curve
    // key/user-cardinality metric relations (the pinned-percentile
    // family: 10⁸-10⁹ narrow rows at 100 TB — documented in SCALE.md as
    // size-class-matched; the sort carries (key, count) pairs only)
    "events_rfm" -> 3, // three pinned-quintile threshold windows
    "events_time_to_convert" -> 1, // pinned percentile over converters
    "meta_skew_report" -> 1, // per-key-count diagnostic quantiles
    // domain cardinality (thousands of sources at web scale)
    "sample_token_budget" -> 1) // the solved water-level window

  test("single-partition sorts only over the enumerated reduced-size-class " +
    "relations") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    plans.foreach { case (name, plan) =>
      val n = PlanChecks.singlePartitionSorts(plan)
      val allowed = singlePartitionSortsAllowed.getOrElse(name, 0)
      if (n > allowed)
        offenders += s"$name: $n single-partition sorts (allowed $allowed)"
    }
    assert(offenders.isEmpty,
      "global single-task sorts crept in — gate them (TwoPass) or argue " +
        "the relation's size class onto the allowlist:\n" +
        offenders.mkString("\n"))
  }

  test("PlanChecks.singlePartitionSorts: SortAggregate / SortMergeJoin " +
    "parents are not global sorts (round-12 ADVICE regression)") {
    def plan(parent: String): String =
      s"""== Physical Plan ==
         |$parent (3)
         |+- Exchange (2)
         |   +- Scan parquet (1)
         |
         |(2) Exchange
         |Input [1]: [x#1L]
         |Arguments: SinglePartition
         |""".stripMargin
    assert(PlanChecks.singlePartitionSorts(plan("Sort")) === 1)
    assert(PlanChecks.singlePartitionSorts(plan("SortAggregate")) === 0)
    assert(PlanChecks.singlePartitionSorts(plan("SortMergeJoin")) === 0)
  }
}
