package graft

import org.apache.spark.GraftSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger

/** Driver-contract invariants: the flagship smoke, key consistency between
  * queries and oracleSql, and executability of every declared query
  * (mirrors the reference's own runtime verification,
  * `etl_medallion.py:220-296`). */
class ContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("flagship entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("declared query names are unique") {
    val names = SparkEntry.declared.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("every declared query executes at sf0.001") {
    // a declared query leaves the caller's session as it found it: no
    // cached relation, the same temp views bound to the same plans, and no
    // persisted RDD it did not find there
    val catalog = spark.sessionState.catalog
    def tempViews = catalog.getTempViewNames().map(n => n -> catalog.getRawTempView(n).get).toMap
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.queries.foreach { case (name, fn) =>
      spark.catalog.clearCache()
      val views = tempViews
      val rdds = persisted
      val n = fn(spark, TestSpark.Sf0001).count()
      withClue(name)(assert(n >= 0))
      withClue(s"$name leaves a cached relation: ") {
        assert(spark.sharedState.cacheManager.isEmpty)
      }
      val after = tempViews
      withClue(s"$name changes the session's temp views: ") {
        assert(after.keySet == views.keySet && views.forall { case (v, r) => after(v) eq r })
      }
      withClue(s"$name leaves persisted RDDs: ") {
        assert((persisted -- rdds).isEmpty)
      }
    }
  }

  test("building events_rfm and events_time_to_convert launches no Spark job") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try Seq("events_rfm", "events_time_to_convert").foreach { name =>
      GraftSpark.drainListenerBus(sc)
      jobs.set(0)
      SparkEntry.queries(name)(spark, TestSpark.Sf0001)
      GraftSpark.drainListenerBus(sc)
      withClue(name)(assert(jobs.get == 0))
    } finally sc.removeSparkListener(listener)
  }

  test("a second build of every declared query launches no Spark job") {
    // the first build writes what the query's artifacts and input facts
    // need; building again must find them and launch nothing, and the
    // first DataFrame must still execute afterwards
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        stages.add(e.stageInfos.map(_.name).headOption.getOrElse("?"))
    }
    sc.addSparkListener(listener)
    try {
      val launched = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val first = fn(spark, TestSpark.Sf0001)
        GraftSpark.drainListenerBus(sc)
        stages.clear()
        fn(spark, TestSpark.Sf0001)
        GraftSpark.drainListenerBus(sc)
        val jobs = stages.toArray.toSeq.map(_.toString)
        withClue(name)(assert(first.count() >= 0))
        if (jobs.isEmpty) None else Some(name -> jobs)
      }.toMap
      info(s"second builds launching jobs: ${launched.size} queries, " +
        s"${launched.values.map(_.size).sum} jobs")
      assert(launched.isEmpty, s"second builds launching jobs: $launched")
    } finally sc.removeSparkListener(listener)
  }

  test("core queries are non-empty at sf0.001") {
    val core = Seq("silver_sales", "gold_sales_analytics", "gold_product_metrics",
      "gold_sales_summary", "analytics_top_products", "dedup_exact",
      "sim_bruteforce_topk", "text_token_counts", "events_hourly", "mm_features")
    core.foreach { name =>
      withClue(name)(assert(SparkEntry.queries(name)(spark, TestSpark.Sf0001).count() > 0))
    }
  }
}
