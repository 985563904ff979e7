package graft

import graft.functions.TextFns._
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 additions: IDF-weighted Jaccard (the write-once Artifacts case
  * lives in ArtifactsSpec; the semantic-cluster and label-propagation specs
  * live in GraphSpec). */
class Round5Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("weighted Jaccard matches a from-first-principles recompute") {
    // rebuild the df-capped weighted index with the same public expressions
    // the operator uses, then score pairs in plain Scala — an independent
    // check of the weighting + scoring, not a replay of the join pipeline
    val idx = Tables.documents(spark, TestSpark.Sf0001)
      .select(col("doc_id"), explode(wordNGrams(col("text"), 3)).as("s"))
      .select(col("doc_id"), hash60(col("s")).as("h"))
      .distinct()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dfAll = idx.groupBy(_._2).view.mapValues(_.length).toMap
    val capped = idx.filter { case (_, h) => dfAll(h) <= 64 }
    val df = capped.groupBy(_._2).view.mapValues(_.length).toMap
    val w = df.map { case (h, d) => h -> 1000000L / d }
    val byDoc = capped.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val tw = byDoc.view.mapValues(_.toSeq.map(w).sum).toMap
    val expected = (for {
      (a, sa) <- byDoc.toSeq
      (b, sb) <- byDoc.toSeq
      if a < b
      shared = sa.intersect(sb)
      if shared.nonEmpty
      wc = shared.toSeq.map(w).sum
      wj = wc.toDouble / (tw(a) + tw(b) - wc)
      if wj >= 0.3
    } yield (a, b) -> (shared.size.toLong, wc, wj)).toMap

    val got = Dedup.weightedJaccard(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got.keySet == expected.keySet,
      s"pair sets differ: only-got=${(got.keySet -- expected.keySet).take(3)} " +
        s"only-exp=${(expected.keySet -- got.keySet).take(3)}")
    expected.foreach { case (k, v) => assert(got(k) == v, s"score mismatch at $k") }
  }

  test("multi-key blocking finds a superset of the single-prefix pairs") {
    val single = Dedup.nameEdit(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    val multi = Dedup.nameEditMultiblock(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getInt(2), r.getBoolean(3), r.getBoolean(4))).toMap
    // every prefix-blocked pair reappears, flagged by_prefix, same distance
    single.foreach { case (k, d) =>
      assert(multi.contains(k), s"multiblock lost prefix pair $k")
      assert(multi(k)._1 == d && multi(k)._2, s"prefix flag/distance wrong at $k")
    }
    // pairs found ONLY by the length-band key are the single-key recall gap
    multi.foreach { case (k, (_, byPfx, byLb)) =>
      assert(byPfx || byLb)
      if (!byPfx) assert(!single.contains(k))
    }
  }

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
