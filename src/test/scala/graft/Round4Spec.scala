package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Multimodal, Relational, Windows}

/** Semantic contracts of the round-4 operators, each checked against an
  * independent reimplementation (collect-side BigInt / set arithmetic), not
  * against the oracle SQL — the oracle gate already covers that axis.
  */
class Round4Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("merge upsert: the three actions partition base ∪ delta exactly") {
    val rows = Relational.mergeUpsert(spark, TestSpark.Sf0001).collect()
    val keys = Tables.customer(spark, TestSpark.Sf0001)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val base = keys.filter(_ % 7 != 6)
    val delta = keys.filter(_ % 3 == 0)
    val byAction = rows.groupBy(_.getString(3))
      .view.mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(byAction.getOrElse("update", Set.empty) == (base & delta))
    assert(byAction.getOrElse("insert", Set.empty) == (delta -- base))
    assert(byAction.getOrElse("keep", Set.empty) == (base -- delta))
    assert(rows.map(_.getLong(0)).toSet == (base ++ delta), "no key lost or invented")
  }

  test("z-score outliers: flags reproduce an independent BigInt computation") {
    import scala.math.BigInt
    val events = Tables.events(spark, TestSpark.Sf0001)
      .select(col("event_type"), col("value")).collect()
      .map(r => r.getString(0) ->
        BigInt(BigDecimal(r.getDouble(1))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .*(100).toBigIntExact.get.toLong))
    val expected = events.groupBy(_._1).view.mapValues { g =>
      val cs = g.map(_._2)
      val n = BigInt(cs.length)
      val s = cs.sum
      val q = cs.map(c => c * c).sum
      cs.count(c => (n * c - s).pow(2) > 9 * (n * q - s * s)).toLong
    }.toMap
    Relational.zscoreOutliers(spark, TestSpark.Sf0001).collect().foreach { r =>
      assert(r.getLong(2) == expected(r.getString(0)),
        s"outlier count for ${r.getString(0)} diverges from the BigInt reference")
    }
  }

  test("audio chunks tile each sample stream contiguously and completely") {
    val nSamples = Tables.documents(spark, TestSpark.Sf0001)
      .filter(col("doc_id") % 3 === 1)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).getBytes("UTF-8").length * 100)
      .toMap
    val chunks = Multimodal.audioChunks(spark, TestSpark.Sf0001).collect()
      .groupBy(_.getLong(0))
    assert(chunks.keySet == nSamples.keySet, "one chunk set per audio doc")
    chunks.foreach { case (doc, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.head.getInt(2) == 0, "first chunk starts at sample 0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getInt(3) == b.getInt(2), s"gap/overlap within doc $doc")
        case _ => ()
      }
      assert(sorted.last.getInt(3) == nSamples(doc), "last chunk ends at the stream end")
      sorted.foreach { c =>
        val len = c.getInt(3) - c.getInt(2)
        assert(len > 0 && len <= 80000, s"chunk length $len out of contract")
      }
    }
  }

  test("cluster purity: per-list top-label count dominates and bounds hold") {
    import graft.operators.Similarity
    val rows = Similarity.clusterPurity(spark, TestSpark.Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, nTop, purity) = (r.getLong(1), r.getLong(3), r.getDouble(4))
      assert(nTop >= 1 && nTop <= n)
      assert(math.abs(purity - nTop.toDouble / n) < 1e-15)
    }
    // the assignment partitions the corpus: list sizes sum to |embeddings|
    val total = Tables.embeddings(spark, TestSpark.Sf0001).count()
    assert(rows.map(_.getLong(1)).sum == total)
  }

  test("weighted moving average: row population and value bounds") {
    val wma = Windows.weightedMovingAvg(spark, TestSpark.Sf0001).collect()
    val perCust = Tables.orders(spark, TestSpark.Sf0001)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectedRows = perCust.values.map(n => math.max(0L, n - 3)).sum
    assert(wma.length.toLong == expectedRows,
      "one WMA row per order from the 4th order on")
    // a weighted mean of four totals lies within the orders' global range
    val range = Tables.orders(spark, TestSpark.Sf0001)
      .agg(min(col("o_totalprice")), max(col("o_totalprice"))).collect()(0)
    val (lo, hi) = (range.getDouble(0), range.getDouble(1))
    wma.foreach { r =>
      val v = r.getDouble(3)
      assert(v >= lo - 0.01 && v <= hi + 0.01, s"wma $v outside [$lo, $hi]")
    }
  }
}
