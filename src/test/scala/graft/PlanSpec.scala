package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan contracts — the 100 TB posture, pinned as assertions so a
  * refactor can't silently regress them:
  *   - silver filters reach the parquet scan (PushedFilters);
  *   - column pruning holds (ReadSchema strictly narrower than the table);
  *   - dim joins broadcast (no shuffle of the fact side for gold);
  *   - the count-only verification reads zero columns.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Full formatted plan (untruncated PushedFilters/ReadSchema). */
  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.Sf001)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** Post-execution plan: AQE finalized, whole-stage-codegen ids assigned. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.Sf001)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("partitioned roundtrip read prunes to the one selected partition") {
    val p = plan("rel_partitioned_roundtrip")
    assert(p.contains("PartitionFilters:") && p.contains("(l_returnflag"),
      p.take(1200))
  }

  test("tfidf top-k applies WindowGroupLimit before the final window") {
    // the per-doc top-k must pre-prune map-side (partial rank limit), not
    // sort whole partitions of (doc, term) rows
    val p = plan("text_tfidf_top")
    assert(p.contains("WindowGroupLimit"), p.take(1200))
  }

  test("funnel stage-gating joins broadcast the shrinking stage relations") {
    // the ts-gated inner joins (clicks⋈views, purchases⋈clicks) must
    // broadcast the previous stage's shrunken key set; the final assembly
    // left-joins user-cardinality relations, where SMJ is the correct
    // choice at scale — only the gating joins are pinned
    val p = finalPlan("events_funnel").split("== Initial Plan ==").head
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 2, s"expected both stage-gating joins broadcast, got $bhj:\n${p.take(800)}")
  }

  test("silver_sales pushes both range predicates into the scan") {
    val p = plan("silver_sales")
    assert(p.contains("PushedFilters:"), p.take(400))
    assert(p.contains("GreaterThan(l_quantity,0.0)"))
    assert(p.contains("GreaterThan(l_extendedprice,0.0)"))
  }

  test("gold_sales_analytics broadcasts both dims and prunes the fact scan") {
    val p = plan("gold_sales_analytics")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
    assert(!p.contains("SortMergeJoin"))
    // l_discount / l_tax are never used → must not be read
    assert(!p.contains("l_discount"), "column pruning lost l_discount")
  }

  test("gold_product_metrics is partial+final hash aggregation, broadcast join") {
    val p = plan("gold_product_metrics")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(p.contains("BroadcastHashJoin"))
  }

  test("meta_row_counts scans zero columns per table") {
    val p = plan("meta_row_counts")
    assert(p.contains("ReadSchema: struct<>"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("analytics_top_products is a top-k, not a global sort") {
    val p = plan("analytics_top_products")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("similarity scoring runs inside whole-stage codegen") {
    // assert on the PRODUCER pipeline: the declared query reads the
    // write-once artifact table, so the scoring plan lives in the build
    val df = operators.Similarity.bruteForceTopKBuild(spark, TestSpark.Sf001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.exists(l =>
      l.contains("cosine_similarity") && l.contains("*(")), p.take(800))
  }

  test("bigram explode stays inside whole-stage codegen (native generator child)") {
    val p = finalPlan("text_top_bigrams")
    // the Generate node must carry the native word_ngrams expression and be
    // codegen'd (starred); the HOF form would appear as transform(...) and
    // knock the stage out of codegen
    assert(p.linesIterator.exists(l =>
      l.contains("word_ngrams") && l.contains("*(")), p.take(1200))
    assert(!p.contains("transform("), "HOF crept back into the bigram path")
  }

  test("text_repetition tokenizes each document once") {
    val plan = SparkEntry.queries("text_repetition")(spark, TestSpark.Sf001)
      .queryExecution.optimizedPlan
    val splits = plan.flatMap(_.expressions.flatMap(_.collect {
      case s: org.apache.spark.sql.catalyst.expressions.StringSplit => s
    }))
    assert(splits.size == 1, plan.treeString.take(1200))
  }

  test("winnow fingerprint is a pure projection — no shuffle before the sort") {
    val p = finalPlan("text_winnow_fingerprint")
    // the per-doc min-gram-hash is computed in place (array_min∘transform),
    // so the only Exchange in the plan is the final ORDER BY's range
    // partitioning — an explode+groupBy form would add a hash Exchange
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected hash shuffle in winnow plan:\n${p.take(1200)}")
    assert(!p.contains("HashAggregate"), "explode+groupBy crept back into winnow")
  }

  test("embedding near-dup verifies only candidates, never all pairs") {
    // assert on the PRODUCER pipeline (the declared query reads the artifact)
    val p = operators.Similarity.embeddingCosinePairsBuild(spark, TestSpark.Sf001)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // candidate generation is an equi-join on (tbl, band key) — a hash join,
    // not a cartesian/BNL over the corpus
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the only BNLs allowed are corpus × 16-row broadcast plane table (one
    // per side of the band self-join); count plan NODES ("(n) BNLJ" detail
    // lines), not text mentions — formatted explain names each node twice
    val bnl = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size
    assert(bnl <= 2, s"unexpected nested-loop joins: $bnl")
    // candidate generation is an equi-join on the band key
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"))
  }

  test("candidate->vector verification joins broadcast the vector side under the gate") {
    // The round-11 regime pin: below VecBroadcastRows the vecSide hint must
    // hold the candidate->vector joins in broadcast-hash form. Without the
    // hint, a corpus crossing the 10 MB auto-broadcast threshold silently
    // flips BOTH joins to sort-merge and sorts the (orders-of-magnitude
    // larger) candidate relation once per side — the sf3 blow-up (540 s ->
    // 46 s when pinned). Assert the producer plans have zero SortMergeJoin:
    // every join is either the band-key self-join (hash) or a broadcast.
    for ((name, df) <- Seq(
        "knnGraphBuild" -> operators.Similarity.knnGraphBuild(spark, TestSpark.Sf001),
        "embeddingCosinePairsBuild" ->
          operators.Similarity.embeddingCosinePairsBuild(spark, TestSpark.Sf001))) {
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!p.contains("SortMergeJoin"),
        s"$name: a candidate->vector join left the broadcast regime:\n${p.take(1200)}")
      assert(p.contains("BroadcastHashJoin"), s"$name: expected broadcast joins")
    }
    // the other half of the gate: ABOVE VecBroadcastRows the hint is
    // withheld — a corpus that large cannot broadcast, and forcing it
    // would OOM executors; the relation must come back plan-unchanged
    val e = graft.Tables.embeddings(spark, TestSpark.Sf001).select("vec_id")
    val over = operators.Similarity.vecSide(e, operators.Similarity.VecBroadcastRows + 1)
    assert(over.queryExecution.logical == e.queryExecution.logical,
      "over-gate vecSide must not attach a broadcast hint")
    val under = operators.Similarity.vecSide(e, operators.Similarity.VecBroadcastRows)
    assert(under.queryExecution.logical.toString.contains("Hint"),
      "under-gate vecSide must attach the broadcast hint")
  }

  test("bucketed roundtrip joins bucket-to-bucket: no shuffle below the join") {
    // both sides stored bucketed on the join key with one bucket count
    // (Artifacts.bucketedTable): with broadcast disabled (at real
    // scale neither fact side broadcasts) the SMJ runs on bucket
    // co-location — the ONLY shuffle exchanges in the plan are the
    // post-join aggregation and the declared final sort. A non-bucketed
    // plan would add one hashpartitioning exchange per join side (4 total).
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p = finalPlan("rel_bucketed_roundtrip").split("== Initial Plan ==").head
      val shuffles =
        "Exchange (hash|range)partitioning".r.findAllIn(p).size
      assert(p.contains("SortMergeJoin"), p.take(800))
      assert(shuffles <= 2,
        s"bucketed join should add zero shuffles (got $shuffles):\n${p.take(1200)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("kept join hints still broadcast with the size threshold off") {
    // Every other join is left to the broadcast threshold and AQE. Each
    // case below plans a join whose hint stays (the recorded plan changes
    // without it: see the comment at each hint) at sf0.01 through its
    // producer or declared query. Turning the threshold off stands in for
    // inputs above it: only a hinted join can still broadcast, so deleting
    // one of these hints fails its case.
    import operators.{Dedup, Relational, Sampling, Similarity}
    val d = TestSpark.Sf001
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame, String, Int)] = Seq(
      ("bruteForceTopKBuild", () => Similarity.bruteForceTopKBuild(spark, d),
        "BroadcastNestedLoopJoin", 1),
      ("hardNegatives", () => Similarity.hardNegatives(spark, d),
        "BroadcastNestedLoopJoin", 1),
      ("dimTruncation", () => Similarity.dimTruncation(spark, d),
        "BroadcastNestedLoopJoin", 1),
      ("ivfKmeansTopK", () => Similarity.ivfKmeansTopK(spark, d),
        "BroadcastHashJoin", 2), // centDist + ivfSearchTail
      ("zscoreOutliers", () => Relational.zscoreOutliers(spark, d),
        "BroadcastHashJoin", 1),
      ("mixtureApply", () => Sampling.mixtureApply(spark, d),
        "BroadcastHashJoin", 1),
      ("cappedShingleIndexBuild", () => Dedup.cappedShingleIndexBuild(spark, d),
        "BroadcastHashJoin", 1))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for ((name, df, join, n) <- cases) {
        val p = PlanChecks.formatted(df())
        val got = (raw"\(\d+\) " + join).r.findAllIn(p).size
        assert(got == n, s"$name: $got $join (expected $n):\n${p.take(1500)}")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("zone maps scan reads only the three involved columns") {
    val p = plan("rel_zone_maps")
    val rs = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(rs.contains("l_orderkey") && rs.contains("l_shipdate") &&
      rs.contains("l_extendedprice"), rs)
    assert(!rs.contains("l_partkey") && !rs.contains("l_quantity"),
      s"zone maps must prune unused lineitem columns: $rs")
  }

  test("z-score outliers: stats side broadcasts back to the fact scan") {
    // two-pass shape: sufficient-stats aggregate, then a broadcast join of
    // the (group-cardinality) stats relation — never a shuffle of the fact
    // table for the second pass
    val p = plan("rel_zscore_outliers")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }
}
