package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{EventTime, Multimodal, Sampling, TextAnalysis, TwoPass}

/** The row-gated two-pass forms of the corpus-sized global windows
  * (`operators/TwoPass.scala`) and the queries they gate: regimes, bucket
  * counts, skewed and NULL order keys, and the census skew refinement.
  *
  * Regime contract, same as the vecSide / peel gates: gate = 0 forces the
  * distributed two-pass path on real data; the result must be
  * value-identical to the default single-task window AND the over-gate
  * physical plan must contain no single-partition exchange (the whole
  * point of the form).
  */
class TwoPassSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def assertSame(name: String, a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq === b.columns.toSeq, s"$name: columns differ")
    val extraA = a.exceptAll(b).count()
    val extraB = b.exceptAll(a).count()
    val n = a.count()
    assert(extraA == 0 && extraB == 0 && n == b.count() && n > 0,
      s"$name: regimes differ (a-only=$extraA b-only=$extraB rows=$n)")
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("gated windows: forced-distributed regime is value-identical to " +
    "the default single-task window on real data") {
    for (dir <- Seq(TestSpark.Sf0001, TestSpark.Sf001)) {
      assertSame(s"text_token_shards@$dir",
        TextAnalysis.tokenShards(spark, dir),
        TextAnalysis.tokenShardsWithGate(spark, dir, 0L))
      assertSame(s"mm_shard_manifest@$dir",
        Multimodal.shardManifest(spark, dir),
        Multimodal.shardManifestWithGate(spark, dir, 0L))
      assertSame(s"sample_curriculum@$dir",
        Sampling.curriculum(spark, dir),
        Sampling.curriculumWithGate(spark, dir, 0L))
      assertSame(s"events_power_users@$dir",
        EventTime.powerUsers(spark, dir),
        EventTime.powerUsersWithGate(spark, dir, 0L))
      assertSame(s"rel_skyline@$dir",
        operators.Relational.skyline(spark, dir),
        operators.Relational.skylineWithGate(spark, dir, 0L))
    }
  }

  test("gated windows: the over-gate plan has NO single-partition " +
    "exchange — the sort runs per bucket, offsets broadcast back") {
    val dir = TestSpark.Sf001
    for ((name, df) <- Seq(
        "text_token_shards" -> TextAnalysis.tokenShardsWithGate(spark, dir, 0L),
        "mm_shard_manifest" -> Multimodal.shardManifestWithGate(spark, dir, 0L),
        "sample_curriculum" -> Sampling.curriculumWithGate(spark, dir, 0L),
        "events_power_users" -> EventTime.powerUsersWithGate(spark, dir, 0L),
        "rel_skyline" -> operators.Relational.skylineWithGate(spark, dir, 0L))) {
      val p = formatted(df)
      val spSorts = PlanChecks.singlePartitionSorts(p)
      val allowed =
        // the ten-row cumulative decile window stays global by design —
        // its cardinality is the decile count, not the user count
        if (name == "events_power_users") 1 else 0
      assert(spSorts <= allowed,
        s"$name over-gate plan kept $spSorts single-partition sorts " +
          s"(allowed $allowed):\n${p.take(1500)}")
      assert(p.contains("hashpartitioning(__bid"),
        s"$name over-gate plan lost the per-bucket window partitioning")
    }
  }

  test("distributedNtileDesc equals Spark ntile on adversarial " +
    "tie/remainder/short inputs") {
    import spark.implicits._
    // heavy ties (Zipf-ish counts), n % k != 0, n < k, single value
    val cases = Seq(
      (1 to 100).map(i => (i.toLong, (100 / i).toDouble)), // heavy ties
      (1 to 17).map(i => (i.toLong, (i % 5).toDouble)), // 17 % 4 = 1
      (1 to 3).map(i => (i.toLong, i.toDouble)), // n < k
      (1 to 8).map(i => (i.toLong, 7.0)), // all equal
      Seq((1L, 0.25))) // one row
    for ((rows, ci) <- cases.zipWithIndex; k <- Seq(4, 10)) {
      // file-backed source not needed: values are compared, not plans
      val df = rows.toDF("id", "score")
      val want = df.withColumn("t",
        ntile(k).over(Window.orderBy(col("score").desc, col("id"))))
        .select("id", "t").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val got = TwoPass.distributedNtileDesc(df, "score", "id", k, "t")
        .select("id", "t").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got === want, s"case $ci k=$k")
    }
  }

  test("distributedPrefixSum equals the global running sum on sparse, " +
    "negative-value, and single-bucket key layouts") {
    import spark.implicits._
    val cases = Seq(
      Seq((5L, 10L), (1000000L, 3L), (7L, -4L), (999L, 0L)), // sparse keys
      (1 to 40).map(i => (i.toLong, (i % 7).toLong - 3)), // dense, negatives
      Seq((42L, 5L))) // one row
    for ((rows, ci) <- cases.zipWithIndex) {
      val df = rows.toDF("id", "v")
      val w = Window.orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val want = df.withColumn("c", coalesce(sum(col("v")).over(w), lit(0L)))
        .select("id", "c").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = TwoPass.distributedPrefixSum(df, "id", "v", "c")
        .select("id", "c").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"case $ci")
    }
  }

  test("distributedPrefixMax equals the global exclusive-range running " +
    "max on ties, bucket boundaries, and single rows") {
    import spark.implicits._
    val cases = Seq(
      // heavy ties incl. ties at what will be bucket boundaries
      (1 to 60).map(i => ((i / 3).toLong, (i * 7 % 13).toLong)),
      Seq((100L, 5L), (100L, 9L), (101L, 1L), (1000000L, 2L)), // sparse
      Seq((42L, 5L))) // one row
    for ((rows, ci) <- cases.zipWithIndex) {
      val df = rows.toDF("k", "v")
      val w = Window.orderBy(col("k"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val want = df.withColumn("m", max(col("v")).over(w).cast("long"))
        .select("k", "v", "m").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).sorted
      val got = TwoPass.distributedPrefixMax(df, "k", "v", "m")
        .select("k", "v", "m").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).sorted
      assert(got.toSeq === want.toSeq, s"case $ci")
    }
  }

  test("bucketsFor scales with input: 32 at the gate, linear above, " +
    "capped at 2^16, monotone") {
    assert(TwoPass.bucketsFor(0L) === TwoPass.PrefixBuckets)
    assert(TwoPass.bucketsFor(1L) === TwoPass.PrefixBuckets)
    // exactly the gate threshold keeps the round-12 constant
    assert(TwoPass.bucketsFor(TwoPass.WindowGateRows) === TwoPass.PrefixBuckets)
    // one row over: one more bucket — per-bucket rows stay ~RowsPerBucket
    assert(TwoPass.bucketsFor(TwoPass.WindowGateRows + 1) ===
      TwoPass.PrefixBuckets + 1)
    // 10^9 docs: ~30.5k buckets, each ~32k rows
    val b1e9 = TwoPass.bucketsFor(1000000000L)
    assert(b1e9 > 30000 && b1e9 < TwoPass.MaxPrefixBuckets)
    // 10^10 docs: capped — 2^16 subtotal rows is still a trivial driver
    // collect, per-bucket ~1.5e5 rows is still a tiny sort task
    assert(TwoPass.bucketsFor(10000000000L) === TwoPass.MaxPrefixBuckets)
    val ns = Seq(0L, 100L, TwoPass.WindowGateRows, 50000000L, 10000000000L)
    val bs = ns.map(TwoPass.bucketsFor)
    assert(bs === bs.sorted, "bucketsFor must be monotone in n")
  }

  test("forced buckets > 32 keep every primitive value-identical to the " +
    "global window") {
    import spark.implicits._
    val rows = (1 to 200).map(i => (i.toLong * 7, (i % 11).toLong - 5))
    val df = rows.toDF("id", "v")
    val wSum = Window.orderBy(col("id")).rowsBetween(Window.unboundedPreceding, -1)
    val wantSum = df.withColumn("c", coalesce(sum(col("v")).over(wSum), lit(0L)))
      .select("id", "c").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (b <- Seq(48, 200, 1000)) {
      val got = TwoPass.distributedPrefixSum(df, "id", "v", "c", buckets = b)
        .select("id", "c").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === wantSum, s"prefixSum buckets=$b")
    }
    val wMax = Window.orderBy(col("id")).rangeBetween(Window.unboundedPreceding, -1)
    val wantMax = df.withColumn("m", max(col("v")).over(wMax).cast("long"))
      .select("id", "m").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val gotMax = TwoPass.distributedPrefixMax(df, "id", "v", "m", buckets = 48)
      .select("id", "m").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(gotMax === wantMax, "prefixMax buckets=48")
    val scored = (1 to 100).map(i => (i.toLong, (100 / i).toDouble)).toDF("id", "score")
    val wantT = scored.withColumn("t",
      ntile(10).over(Window.orderBy(col("score").desc, col("id"))))
      .select("id", "t").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val gotT = TwoPass.distributedNtileDesc(scored, "score", "id", 10, "t",
      buckets = 48)
      .select("id", "t").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotT === wantT, "ntileDesc buckets=48")
  }

  test("auto bucket derivation engages above the gate: 1.2M rows get " +
    "> 32 buckets and an exact prefix sum") {
    import spark.implicits._
    val n = 1200000L
    assert(TwoPass.bucketsFor(n) > TwoPass.PrefixBuckets)
    // exclusive prefix sum of v=1 over ids 0..n-1 is exactly the id
    val df = spark.range(n).toDF("id").withColumn("v", lit(1L))
    val out = TwoPass.distributedPrefixSum(df, "id", "v", "c")
    assert(out.filter(col("c") =!= col("id")).count() === 0L)
    assert(out.count() === n)
  }

  test("skewed order keys (90% of rows in one narrow region) stay " +
    "value-identical across regimes; the skew lands in one bucket") {
    import spark.implicits._
    // 90% of keys dense around 10^9, 10% spread over [0, 9*10^8):
    // unique by construction
    val keys = (0 until 900).map(i => 1000000000L + i) ++
      (0 until 100).map(i => i.toLong * 9000000L)
    val rows = keys.zipWithIndex.map { case (k, i) => (k, (i % 13).toLong - 6) }
    val df = rows.toDF("id", "v")
    val w = Window.orderBy(col("id")).rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("c", coalesce(sum(col("v")).over(w), lit(0L)))
      .select("id", "c").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = TwoPass.distributedPrefixSum(df, "id", "v", "c")
      .select("id", "c").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want, "skewed-key prefix sum: regimes differ")
    // pin the equal-width FIRST pass: the dense region concentrates in
    // ONE bucket (sizes skew, values don't). At production thresholds
    // this 1000-row fixture stays unrefined; the prefix skew refinement
    // case runs the same shape with a lowered refine target through the
    // census re-split and asserts the hot bucket breaks up
    val b = TwoPass.bucketsFor(keys.size)
    val lo = keys.min
    val width = math.max(1L, (keys.max - lo) / b + 1)
    val maxShare = keys.groupBy(k => (k - lo) / width).values.map(_.size).max
    assert(maxShare >= (keys.size * 8) / 10,
      s"fixture drifted: largest bucket holds $maxShare/${keys.size}")
    // same fixture through the ntile path (score = key): regimes agree
    val scored = rows.toDF("id", "v").withColumn("score", col("id").cast("double"))
    val wantT = scored.withColumn("t",
      ntile(10).over(Window.orderBy(col("score").desc, col("id"))))
      .select("id", "t").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val gotT = TwoPass.distributedNtileDesc(scored, "score", "id", 10, "t")
      .select("id", "t").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotT === wantT, "skewed-key ntile: regimes differ")
  }

  test("ntile skew refinement: a 240k-tie modal value in its OWN bucket " +
    "(pure, tie-split) keeps exact Spark ntile values") {
    import spark.implicits._
    // 240k rows at exactly 50.0 (bucket 0 alone — pure), 60k spread [0,1]
    val df = spark.range(300000L).toDF("id")
      .withColumn("score",
        when(col("id") < 240000L, lit(50.0))
          .otherwise((col("id") % 1000).cast("double") / 1000.0))
    val want = df.withColumn("t",
      ntile(10).over(Window.orderBy(col("score").desc, col("id"))))
    val got = TwoPass.distributedNtileDesc(df, "score", "id", 10, "t")
    assert(got.columns.toSeq === want.columns.toSeq)
    assert(want.exceptAll(got).count() === 0L &&
      got.exceptAll(want).count() === 0L && got.count() === 300000L)
  }

  test("ntile skew refinement: a modal value SHARING its bucket with " +
    "other values (mixed, score re-split) keeps exact Spark ntile values") {
    import spark.implicits._
    // modal 1.0 (240k ties) lands in the same equal-width bucket as the
    // 2.0-4.x tail → the mixed re-split path
    val df = spark.range(300000L).toDF("id")
      .withColumn("score",
        when(col("id") < 240000L, lit(1.0))
          .otherwise((col("id") % 100).cast("double") + 2.0))
    val want = df.withColumn("t",
      ntile(7).over(Window.orderBy(col("score").desc, col("id"))))
    val got = TwoPass.distributedNtileDesc(df, "score", "id", 7, "t")
    assert(want.exceptAll(got).count() === 0L &&
      got.exceptAll(want).count() === 0L && got.count() === 300000L)
  }

  test("NULL order keys fail loudly in the distributed form (the " +
    "regimes would silently diverge on null-first vs NPE)") {
    import spark.implicits._
    val df = Seq((Some(1L), 2L), (None, 3L), (Some(5L), 1L))
      .toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      TwoPass.distributedPrefixSum(df, "id", "v", "c").collect()
    }
    assert(e.getMessage.contains("NULL"))
    val e2 = intercept[IllegalArgumentException] {
      TwoPass.distributedPrefixMax(df, "id", "v", "m").collect()
    }
    assert(e2.getMessage.contains("NULL"))
  }

  test("power-users HLL regime probe: the estimated-over regime equals " +
    "the default single-task window on real data") {
    // gate=1 puts the event count over the gate, so the HLL user
    // estimate decides OVER (every corpus has > 1 user)
    for (dir <- Seq(TestSpark.Sf0001, TestSpark.Sf001)) {
      val a = EventTime.powerUsers(spark, dir)
      val b = EventTime.powerUsersWithGate(spark, dir, 1L)
      assert(a.columns.toSeq === b.columns.toSeq)
      val n = a.count()
      assert(a.exceptAll(b).count() === 0L && b.exceptAll(a).count() === 0L
        && n === b.count() && n > 0L, s"power-users regimes differ @ $dir")
    }
  }

  test("prefixRefinePlan: hot buckets re-split over their observed key " +
    "range; single-key and cold buckets left alone; caps hold") {
    // n=2540, b=100 → avgTarget = max(50, 26) = 50 → hot needs c > 200
    val census = Seq(
      (0L, 900L, 1000L, 1899L), // hot: 900 unique keys in [1000, 1899]
      (1L, 50L, 5000L, 5049L), // cold
      (2L, 800L, 7777L, 7777L), // over threshold but single-key: indivisible
      (3L, 790L, 9000L, 9001L)) // hot, two keys: divisible
    val plan = TwoPass.prefixRefinePlan(census, 2540L, 100, 50L)
    assert(plan.keySet === Set(0L, 3L))
    val (kmin, tw, subs) = plan(0L)
    // subs = ceil(900/50) = 18; tw = (1899−1000)/18 + 1 = 50
    assert(kmin === 1000L && subs === 18 && tw === 50L)
    // sub caps: a 10M-row hot bucket against a ~500-row target is capped
    // at RefineMaxSubs (avgTarget = max(1, 10M/20000+1) = 501)
    val big = TwoPass.prefixRefinePlan(
      Seq((0L, 10000000L, 0L, 10000000L)), 10000000L, 20000, 1L)
    assert(big(0L)._3 === TwoPass.RefineMaxSubs)
    // at most RefineMaxBuckets refine, largest first
    val many = (0 until 200).map(i => (i.toLong, 1000L + i, i * 10000L, i * 10000L + 999L))
    val capped = TwoPass.prefixRefinePlan(many, 200L * 1100L, 20000, 1L)
    assert(capped.size === TwoPass.RefineMaxBuckets)
    assert(capped.contains(199L) && !capped.contains(0L))
  }

  test("prefix skew refinement: the 90/10 clustered-key fixture through " +
    "the refined path stays value-identical AND bounds the max sort group") {
    import spark.implicits._
    // the skewed-order-keys fixture shape, sized so a lowered refine target
    // forces the hot-bucket path: 1800 keys dense around 10^9, 200
    // spread over [0, 9·10^8) — unique by construction
    val keys = (0 until 1800).map(i => 1000000000L + i * 3) ++
      (0 until 200).map(i => i.toLong * 4500000L)
    val rows = keys.zipWithIndex.map { case (k, i) => (k, (i % 13).toLong - 6) }
    val df = rows.toDF("id", "v")
    val wS = Window.orderBy(col("id")).rowsBetween(Window.unboundedPreceding, -1)
    val wantS = df.withColumn("c", coalesce(sum(col("v")).over(wS), lit(0L)))
      .select("id", "c").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (gotSDf, sStats) = TwoPass.distributedPrefixSumStats(
      df, "id", "v", "c", buckets = 32, minRefineRows = 64L)
    val gotS = gotSDf.select("id", "c").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotS === wantS, "refined prefix sum: regimes differ")
    // engagement receipts: without refinement the dense half (1800 rows)
    // is ONE bucket; with it the max sort group is ~avgTarget-sized
    assert(sStats.refined >= 1, "hot bucket did not refine")
    val avgTarget = math.max(64L, 2000L / 32 + 1)
    assert(sStats.maxGroup <= TwoPass.RefineFactor * avgTarget,
      s"max group ${sStats.maxGroup} not bounded by refinement")
    assert(sStats.maxGroup < 1800L, "dense cluster still one sort task")
    // same fixture through the max form (range frame, exclusive)
    val wM = Window.orderBy(col("id")).rangeBetween(Window.unboundedPreceding, -1)
    val wantM = df.withColumn("m", max(col("v")).over(wM).cast("long"))
      .select("id", "m").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val (gotMDf, mStats) = TwoPass.distributedPrefixMaxStats(
      df, "id", "v", "m", buckets = 32, minRefineRows = 64L)
    val gotM = gotMDf.select("id", "m").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(gotM === wantM, "refined prefix max: regimes differ")
    assert(mStats.refined >= 1 && mStats.maxGroup < 1800L)
  }

  test("prefix max refinement with DUPLICATE keys: equal keys share a " +
    "sub-bucket (range-frame ties stay excluded); single-key hot bucket " +
    "is left indivisible and stays correct") {
    import spark.implicits._
    // 600 rows on key 10^9 (one exact value — indivisible), 600 rows on
    // keys 10^9+2..10^9+601 (dense, divisible), 100 spread
    val keys = Seq.fill(600)(1000000000L) ++
      (0 until 600).map(i => 1000000002L + i) ++
      (0 until 100).map(i => i.toLong * 9000000L)
    val rows = keys.zipWithIndex.map { case (k, i) => (k, (i % 17).toLong - 8) }
    val df = rows.toDF("k", "v")
    val w = Window.orderBy(col("k")).rangeBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("m", max(col("v")).over(w).cast("long"))
      .select("k", "v", "m").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    val (gotDf, stats) = TwoPass.distributedPrefixMaxStats(
      df, "k", "v", "m", buckets = 32, minRefineRows = 16L)
    val got = gotDf.select("k", "v", "m").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got === want, "duplicate-key refined prefix max: regimes differ")
    assert(stats.refined >= 1)
  }

  test("forced-engagement parity on REAL data: per-user activity through " +
    "all three refined forms equals the single-task window (the " +
    "ScaleCheck skew_refinement gate's sf0.01 instance)") {
    val perUser = Tables.events(spark, TestSpark.Sf001)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      .persist()
    try {
      val nU = perUser.count()
      val wantT = perUser.withColumn("t", ntile(10).over(
        Window.orderBy(col("n_events").desc, col("user_id"))))
      val (gotT, ntStats) = TwoPass.distributedNtileDescStats(
        perUser, "n_events", "user_id", 10, "t",
        buckets = 256, minRefineRows = 1L)
      assert(wantT.exceptAll(gotT).count() === 0L &&
        gotT.exceptAll(wantT).count() === 0L && gotT.count() === nU)
      assert(ntStats.refined >= 1,
        "real per-user counts did not trip ntile refinement")
      val packed = perUser.select(
        (col("n_events") * 1000000000L + col("user_id")).as("k"),
        col("n_events").as("v"))
      val wS = Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, -1)
      val wantS = packed.withColumn("c",
        coalesce(sum(col("v")).over(wS).cast("long"), lit(0L)))
      val (gotS, sStats) = TwoPass.distributedPrefixSumStats(
        packed, "k", "v", "c", buckets = 256, minRefineRows = 1L)
      assert(wantS.exceptAll(gotS).count() === 0L &&
        gotS.exceptAll(wantS).count() === 0L)
      assert(sStats.refined >= 1,
        "real per-user counts did not trip prefixSum refinement")
    } finally perUser.unpersist()
  }

  test("overGate probe never pulls more than gate+1 rows and flips " +
    "exactly at the gate") {
    // the regime is the caller's row count against the gate: the
    // single-task window at rows = gate (deciding it launches no job), the
    // per-bucket form at gate + 1, with the same values
    import spark.implicits._
    import org.apache.spark.GraftSpark
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val df = (1 to 50).map(i => (i.toLong, (i % 7).toLong)).toDF("id", "v")
    val forms = Seq[(String, (Long, Long) => DataFrame)](
      "prefixSum" -> ((rows, gate) => TwoPass.prefixSum(df, "id", "v", "c", rows, gate)),
      "prefixMaxExclusiveRange" -> ((rows, gate) =>
        TwoPass.prefixMaxExclusiveRange(df, "id", "v", "c", rows, gate)),
      "ntileDesc" -> ((rows, gate) => TwoPass.ntileDesc(df, "v", "id", 4, "c", rows, gate)))
    def perBucket(out: DataFrame): Boolean =
      out.queryExecution.analyzed.toString.contains("__bid")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try forms.foreach { case (name, form) =>
      GraftSpark.drainListenerBus(sc)
      jobs.set(0)
      val single = form(50L, 50L)
      GraftSpark.drainListenerBus(sc)
      withClue(name)(assert(jobs.get == 0 && !perBucket(single)))
      val distributed = form(51L, 50L)
      withClue(name)(assert(perBucket(distributed)))
      val rows = (d: DataFrame) => d.orderBy("id").collect().toSeq
      withClue(name)(assert(rows(single) == rows(distributed)))
    } finally sc.removeSparkListener(listener)
  }
}
