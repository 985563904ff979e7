package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** Orchestration semantics from SURVEY §3.1/§7.6(6): inter-layer
  * short-circuit, intra-layer statement independence (run concurrently,
  * reported in declared order), truncated errors. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("happy path: all layers processed in order, inventory complete") {
    val report = Pipeline.run(spark, TestSpark.Sf0001)
    assert(report.status == "success")
    assert(report.layersProcessed == Seq("bronze", "silver", "gold"))
    assert(report.durationSec > 0)
    assert(report.inventory.map(_.name) == Seq(
      "bronze_lineitem", "bronze_part", "bronze_supplier",
      "silver_sales", "silver_products", "silver_suppliers",
      "gold_sales_analytics", "gold_product_metrics", "gold_sales_summary"))
    assert(report.inventoryComplete)
    assert(report.inventory.forall(_.rows > 0))
    // statements report in declared order; each table's inventory rows are
    // the one count that forced it
    assert(report.layers.map(l => l.layer -> l.statements.map(_.name)) ==
      Pipeline.defaultLayers().map { case (l, sts) => l -> sts.map(_._1) })
    assert(report.inventory.map(_.rows) == report.layers.flatMap(_.statements).map(_.rows))
    report.inventory.foreach(c => assert(c.rows == spark.table(c.name).count(), c.name))
  }

  test("failing statement stops later layers but not its own layer's siblings") {
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new RuntimeException("x" * 500)
    val layers = Seq(
      "bronze" -> Seq[Pipeline.Statement](
        "b_ok" -> ((s, d) => Tables.part(s, d))),
      "silver" -> Seq[Pipeline.Statement](
        "s_fail" -> boom,
        "s_ok_after_fail" -> ((s, d) => Tables.part(s, d))),
      "gold" -> Seq[Pipeline.Statement](
        "g_never" -> ((s, d) => Tables.part(s, d))))
    val report = Pipeline.run(spark, TestSpark.Sf0001, layers)
    assert(report.status == "error")
    assert(report.layersProcessed == Seq("bronze"))
    val silver = report.layers.find(_.layer == "silver").get
    assert(!silver.ok)
    assert(silver.statements.map(_.name) == Seq("s_fail", "s_ok_after_fail"),
      "intra-layer statements after a failure must still run")
    assert(silver.statements.last.ok)
    assert(silver.statements.head.error.get.length == 100, "errors truncate to 100 chars")
    assert(!report.layers.exists(_.layer == "gold"), "gold must never start")
    // inventory reflects the halt: failed + never-run statements are absent
    assert(!report.inventoryComplete)
    val inv = report.inventory.map(c => c.name -> c.present).toMap
    assert(inv("b_ok") && inv("s_ok_after_fail"))
    assert(!inv("s_fail") && !inv("g_never"))
  }

  test("a layer's statements run concurrently and report in declared order") {
    // each statement waits until all three have started: run one after
    // another, the first would time out
    val started = new CountDownLatch(3)
    spark.sparkContext.setLocalProperty("graft.spec.tag", "inherited")
    val seen = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val statements = Seq(3, 1, 2).map { n =>
      s"par_$n" -> { (s: SparkSession, d: String) =>
        started.countDown()
        val together = started.await(60, TimeUnit.SECONDS)
        seen.put(s"par_$n", s"$together:${s.sparkContext.getLocalProperty("graft.spec.tag")}")
        Thread.sleep(50L * n) // finish out of declared order
        Tables.part(s, d).limit(n)
      }: Pipeline.Statement
    }
    val report = try Pipeline.run(spark, TestSpark.Sf0001, Seq("only" -> statements))
      finally spark.sparkContext.setLocalProperty("graft.spec.tag", null)
    assert(report.status == "success")
    val sts = report.layers.head.statements
    assert(sts.map(_.name) == Seq("par_3", "par_1", "par_2"))
    assert(sts.map(_.rows) == Seq(3L, 1L, 2L), "rows are each statement's forcing count")
    assert(report.inventory.map(c => c.name -> c.rows) == sts.map(s => s.name -> s.rows))
    assert(sts.forall(_.ms > 0) && report.layers.head.ms > 0)
    // "true": all three were in flight together; "inherited": the pool
    // threads carry the caller's Spark local properties
    assert(seen.values().toArray.toSet == Set("true:inherited"), seen)
  }

  test("a fatal error in a statement is rethrown, not reported as a failure") {
    val fatal: (SparkSession, String) => DataFrame =
      (_, _) => throw new LinkageError("fatal")
    val layers = Seq("bronze" -> Seq[Pipeline.Statement](
      "f_ok" -> ((s, d) => Tables.part(s, d)), "f_fatal" -> fatal))
    val e = intercept[LinkageError](Pipeline.run(spark, TestSpark.Sf0001, layers))
    assert(e.getMessage == "fatal")
  }
}
