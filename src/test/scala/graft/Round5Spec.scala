package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 additions: mixture application, decontamination and centroid
  * shift (the weighted-Jaccard and blocking cases live in DedupSpec, the
  * write-once Artifacts case in ArtifactsSpec, the semantic-cluster and
  * label-propagation specs in GraphSpec). */
class Round5Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("mixture application realizes planned per-lang counts within sampling variance") {
    val planned = operators.Sampling.mixtureWeights(spark, TestSpark.Sf0001)
      .select(col("lang"), col("planned_docs")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val realized = operators.Sampling.mixtureApply(spark, TestSpark.Sf0001)
      .groupBy(col("lang")).agg(org.apache.spark.sql.functions.sum(col("n_copies")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(realized.keySet == planned.keySet)
    planned.foreach { case (lang, p) =>
      // the fractional epoch is a deterministic hash slice: its realized
      // size is binomial around the plan (σ ≈ √(n·f(1−f)) ≤ √p/2) — allow
      // a generous multi-σ band; the whole-epoch part is exact
      assert(math.abs(realized(lang) - p) <= math.max(5.0, 4 * math.sqrt(p.toDouble)),
        s"$lang: planned $p, realized ${realized(lang)}")
    }
  }

  test("decontaminated corpus = corpus minus benchmark slice minus flagged docs") {
    val corpus = Tables.documents(spark, TestSpark.Sf0001)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val bench = corpus.filter(_ % 97 == 0)
    val flagged = operators.TextAnalysis.contamination(spark, TestSpark.Sf0001)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val kept = operators.TextAnalysis.decontaminateKeep(spark, TestSpark.Sf0001)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(kept.intersect(flagged).isEmpty, "a flagged doc leaked into the release")
    assert(kept.intersect(bench).isEmpty, "a benchmark doc leaked into the release")
    assert(kept ++ flagged ++ bench == corpus, "docs lost outside the two filters")
  }

  test("centroid shift is a non-negative 64-dim report per surviving list") {
    val rows = operators.Similarity.centroidShift(spark, TestSpark.Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == 64, s"list ${r.getInt(0)}: expected 64 dims")
      assert(r.getLong(2) >= 0L)
    }
  }
}
