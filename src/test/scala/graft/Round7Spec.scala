package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 additions (the artifact namespace and latch cases live in
  * ArtifactsSpec). */
class Round7Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bigram LM scores are basis points and agree with the rare-bigram relation") {
    val lm = operators.TextAnalysis.bigramLm(spark, TestSpark.Sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(lm.nonEmpty)
    // cond_bp of any bigram is in (0, 10000]; so is their floored average
    assert(lm.values.forall { case (_, bp) => bp >= 0 && bp <= 10000 })
    // the per-doc bigram universe is the SAME relation rare_bigrams counts —
    // the two quality signals must agree on n_bigrams doc by doc
    val rare = operators.TextAnalysis.rareBigrams(spark, TestSpark.Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lm.keySet == rare.keySet)
    assert(lm.forall { case (d, (n, _)) => rare(d) == n })
  }

  test("weighted priority sampling: k per stratum, weight-scaled priorities") {
    val out = operators.Sampling.weightedPriority(spark, TestSpark.Sf001).collect()
    val perLang = out.groupBy(_.getString(0))
    assert(perLang.nonEmpty)
    perLang.foreach { case (lang, rows) =>
      assert(rows.length <= 8, s"$lang overflows k")
      val byRk = rows.sortBy(_.getInt(1))
      // priorities are nondecreasing in rank — the k LOWEST won
      val pris = byRk.map(_.getLong(4))
      assert(pris.zip(pris.tail).forall { case (a, b) => a <= b }, lang)
      // the winning priority really is hash div weight
      byRk.foreach { r =>
        val h = graft.functions.TextFns.hash60Long(r.getLong(2).toString)
        assert(r.getLong(4) == h / math.max(r.getLong(3), 1L))
      }
    }
  }

  test("filtered top-k constrains candidate generation, not the result") {
    val df = operators.Similarity.filteredTopK(spark, TestSpark.Sf0001)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // every neighbor shares the query's label (the predicate held)
    val labels = TestSpark.spark.read
      .parquet(TestSpark.Sf0001 + "/embeddings.parquet")
      .selectExpr("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      assert(labels(r.getLong(2)) == r.getInt(1))
    }
    // the predicate is a hash-join key: no nested-loop scoring of the
    // full cross product
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }
}
