package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{EventTime, Multimodal, Sampling, TextAnalysis, TwoPass}

/** The row-gated two-pass forms of the corpus-sized global windows
  * (`operators/TwoPass.scala`) and the queries they gate.
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
}
