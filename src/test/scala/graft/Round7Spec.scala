package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-7 additions: the dedicated artifact catalog namespace and the
  * failure semantics of the artifact latch. */
class Round7Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bucketed artifacts land in graft_artifacts, never the default namespace") {
    import spark.implicits._
    // force a bucketed artifact into existence for this session
    val t = Artifacts.bucketedTable(spark, TestSpark.Sf0001, "r7_ns_probe", Seq("k")) {
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    }
    assert(t.count() == 2L)
    val dbs = spark.catalog.listDatabases().collect().map(_.name)
    assert(dbs.contains(Artifacts.ArtifactDb))
    val inArtifactDb = spark.catalog.listTables(Artifacts.ArtifactDb)
      .collect().map(_.name)
    assert(inArtifactDb.exists(_.startsWith("graft_art_r7_ns_probe")))
    // the default namespace holds NO artifact tables — the namespace is the
    // isolation, not a name-prefix filter
    val inDefault = spark.catalog.listTables("default").collect().map(_.name)
    assert(!inDefault.exists(_.startsWith("graft_art_")), inDefault.mkString(","))
  }

  test("rel_bucketed_roundtrip registers no table in the default namespace") {
    assert(SparkEntry.queries("rel_bucketed_roundtrip")(spark, TestSpark.Sf0001)
      .collect().nonEmpty)
    val inDefault = spark.catalog.listTables("default").collect().map(_.name)
    assert(!inDefault.exists(_.startsWith("graft_bkt_")), inDefault.mkString(","))
  }

  test("catalog-surface queries never list artifact tables") {
    import spark.implicits._
    Artifacts.bucketedTable(spark, TestSpark.Sf0001, "r7_leak_probe", Seq("k")) {
      Seq((1L, 1L)).toDF("k", "v")
    }.count()
    val inv = operators.Relational.catalogInventory(spark, TestSpark.Sf0001)
      .collect().map(_.getString(1))
    assert(inv.length == 9, inv.mkString(","))
    assert(!inv.exists(_.contains("graft_art")), inv.mkString(","))
    val cols = operators.Relational.catalogColumns(spark, TestSpark.Sf0001)
      .collect().map(_.getString(0))
    assert(cols.distinct.length == 9, cols.distinct.mkString(","))
    assert(!cols.exists(_.contains("graft_art")), cols.distinct.mkString(","))
  }

  test("waiters on a failed artifact build retry with the real exception type") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    final class Boom extends RuntimeException("first build fails")
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    def build() = Artifacts.table(spark, TestSpark.Sf0001, "r7_retry_probe") {
      if (attempts.incrementAndGet() == 1) { gate.countDown(); throw new Boom }
      Seq((1L, 1L)).toDF("a", "b")
    }
    val first = Future(build())
    gate.await()
    // the first caller's failure surfaces as the REAL exception, and a
    // subsequent caller rebuilds successfully instead of inheriting the
    // failure (the latch was cleared); under racing waiters either order
    // is fine — what is pinned is no ExecutionException and a working retry
    val firstResult = scala.util.Try(Await.result(first, 120.seconds))
    firstResult.failed.foreach { e =>
      assert(e.isInstanceOf[Boom], s"expected the real cause, got $e")
    }
    assert(build().count() == 1L)
    assert(attempts.get() >= 2)
  }

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
