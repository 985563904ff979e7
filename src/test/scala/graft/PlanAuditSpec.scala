package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fleet-wide physical-plan audit: every declared query's optimized plan is
  * scanned for the scale anti-patterns. One spec so a future operator can't
  * land with a quadratic plan unnoticed.
  *
  *   - CartesianProduct: never, anywhere.
  *   - BroadcastNestedLoopJoin: only where a broadcast-batch × corpus scan
  *     is the intended plan (brute-force scoring, LSH plane projection),
  *     and never more than the whitelisted count.
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

  /** query → max allowed BNLJ nodes (broadcast small-batch designs). */
  private val bnlAllowed: Map[String, Int] = Map(
    "sim_bruteforce_topk" -> 1, // broadcast query batch × corpus (≠ condition)
    "sim_dim_truncation" -> 1, // same broadcast query batch × corpus shape
    "sim_hard_negatives" -> 1, // broadcast anchor batch × corpus (≠ condition)
    "rel_zorder_skipping" -> 1, // one-row broadcast min/max stats scalar
    "sim_lsh_topk" -> 2, // plane table + query-band broadcast
    "sim_ivf_topk" -> 1, // broadcast probes (≠ condition)
    "sim_ivf_kmeans_topk" -> 1,
    "sim_ivfpq_topk" -> 1, // same broadcast-probes candidate join as IVF
    "dedup_embedding_cosine" -> 2, // plane table per self-join side
    "dedup_pair_band_audit" -> 1, // the shared pair-band artifact's
    // broadcast plane projection, visible only when this query plans
    // before dedup_embedding_cosine has built it
    "sim_knn_graph" -> 2, // plane table per self-join side
    "sample_size_biased" -> 1, // one-row broadcast corpus-max scalar
    "rel_hll_union" -> 1, // one-row merged-sketch scalar × one-row direct scalar
    "rel_range_join" -> 1, // broadcast 4-row tier table, non-equi band condition
    "sim_triangles" -> 2, // inherits knnGraph's broadcast plane projection
    // (1 or 2 visible depending on whether the band table is already cached)
    "sim_pagerank" -> 2, // same knnGraph inheritance as sim_triangles
    "events_rfm" -> 3, // three one-row broadcast quintile-threshold scalars
    // (pinned-interpolation thresholds: one per metric, round 7)
    "events_time_to_convert" -> 1, // one-row totals x one-row pinned-percentile scalar
    "sim_recall_eval" -> 8, // composes bf (×4 references) + lsh planes/bands
    // + ivf/pq probe broadcasts — each inherited BNLJ is allowlisted above
    // in its source query; caching can hide some, so this is the ceiling
    "sim_neighbor_jaccard" -> 2, // same knnGraph inheritance
    "rel_bloom_probe" -> 1, // one-row broadcast bits_set scalar folded in
    "dedup_bbit_minhash" -> 4, // two 1-row count scalars per method row
    "sim_nprobe_curve" -> 1, // one-row hit-agg x one-row candidate-agg scalars
    "text_bpe_merge" -> 2, // one-row broadcast best-pair scalar, used twice
    // (merge projection + applied_merge output column)
    "events_cooccurrence" -> 1, // one-row broadcast corpus-user-count scalar
    "events_power_users" -> 1, // one-row broadcast total-events scalar
    "events_anomaly_days" -> 1, // one-row broadcast daily-stats scalar
    "sample_mixture_weights" -> 1, // one-row broadcast corpus-total scalar
    "sample_mixture_apply" -> 1, // inherits mixtureWeights' one-row scalar
    "meta_ref_integrity" -> 3, // one 1-row broadcast fact-total per FK check
    "dedup_lsh_recall" -> 2, // two 1-row count scalars joined to the tp row
    "dedup_impact" -> 1, // 1-row before-aggregate × 1-row after-aggregate
    "dedup_modality_agreement" -> 4, // two 1-row count scalars + the
    // embedding-pair side's broadcast plane projections
    "sample_token_budget" -> 1, // the solved 1-row cap broadcast over the
    // domain-sized relation (totals fold into the single window pass)
    "events_drift" -> 1) // observed-days × observed-types grid completion
    // (both sides are distinct-aggregates of the day×type count relation)

  test("no declared query plans a cartesian product; BNLJ only where designed") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    plans.foreach { case (name, plan) =>
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      val bnl = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(plan).size
      if (bnl > bnlAllowed.getOrElse(name, 0))
        offenders += s"$name: $bnl BNLJ (allowed ${bnlAllowed.getOrElse(name, 0)})"
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** query → max single-partition sorts, each with its size-class
    * argument. Everything here sorts a REDUCED relation (or is the
    * under-gate regime of a row-gated window whose over-gate form is
    * separately asserted exchange-free in Round12Spec). A new query — or
    * a refactor that regrows a global window over a corpus-sized relation
    * — fails the audit below until it is gated or argued onto this list. */
  private val singlePartitionSortsAllowed: Map[String, Int] = Map(
    // row-gated windows (TwoPass): the audit plans the DEFAULT path at
    // sf0.001, which is the documented under-gate single-task regime;
    // Round12Spec pins the over-gate plan at zero single-partition sorts
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
}
