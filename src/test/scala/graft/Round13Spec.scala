package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{EventTime, TwoPass}

/** Round-13 hardening of the TwoPass gate family (the round-12 verdict's
  * findings on its own new code): input-scaled bucket counts, the
  * skewed-key fixture, the NULL-order-key loud failure, the HLL regime
  * probe for post-aggregate windows, and the PlanChecks parent-match
  * regression.
  */
class Round13Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

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
    // this 1000-row fixture stays unrefined; Round14Spec runs the same
    // shape with a lowered refine target through the census re-split and
    // asserts the hot bucket breaks up
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
