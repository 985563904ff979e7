package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The write-once artifact layer ([[Artifacts]]): cache keys, artifact
  * roots, the per-key build latch and its failure semantics, the bucketed
  * catalog namespace, and what [[Artifacts.count]] counts. */
class ArtifactsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("artifact cache key unifies file: URI forms with the bare local path") {
    // the readers accept either form (StageSpec); distinct keys would
    // silently rebuild and double-store every artifact for the session
    val bare = Artifacts.normKey(spark, "/root/testdata/sf0.001", "x")
    assert(Artifacts.normKey(spark, "file:///root/testdata/sf0.001", "x") == bare)
    assert(Artifacts.normKey(spark, "file:/root/testdata/sf0.001", "x") == bare)
    assert(Artifacts.normKey(spark, "/root/testdata/sf0.001/", "x") == bare)
    assert(Artifacts.normKey(spark, "/root/testdata/sf0.01", "x") != bare)
    assert(Artifacts.normKey(spark, "/root/testdata/sf0.001", "y") != bare)
  }

  test("artifacts round-trip through a file:// URI root") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-r6-artroot-").toString
    sys.props("graft.artifacts.dir") = "file://" + tmp
    try {
      val before = Artifacts.count
      val got = Artifacts.table(spark, TestSpark.Sf0001, "r6_uri_root_probe") {
        Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      }.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "a", 2L -> "b"))
      assert(Artifacts.count == before + 1)
      // the parquet landed under the configured root, not the temp default
      val dirs = new java.io.File(tmp).listFiles().map(_.getName)
      assert(dirs.exists(_.startsWith("r6_uri_root_probe")), dirs.mkString(","))
      // second call reuses the materialization (write-once holds across roots)
      Artifacts.table(spark, TestSpark.Sf0001, "r6_uri_root_probe") {
        fail("must not rebuild"); ???
      }
      assert(Artifacts.count == before + 1)
    } finally sys.props.remove("graft.artifacts.dir")
  }

  test("bucketed capped-index self-join plans with zero exchanges") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // at test scale the small side broadcasts, masking whether bucketing
      // removed the shuffles — force the shuffled-join path
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val sh = operators.Dedup.cappedShingleIndex(spark, TestSpark.Sf0001)
      val bare = sh.as("a")
        .join(sh.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"))
      bare.collect()
      val plan = bare.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(600))
      assert(!plan.contains("Exchange"),
        "both sides of the candidate self-join must start pre-bucketed:\n" +
          plan.take(1200))
      assert(plan.contains("SelectedBucketsCount"), "scan must be bucket-aware")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("concurrent requests for one artifact build it exactly once") {
    import spark.implicits._
    val before = Artifacts.count
    val buildsStarted = new java.util.concurrent.atomic.AtomicInteger(0)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (1 to 4).map(_ => Future {
      Artifacts.table(spark, TestSpark.Sf0001, "r6_latch_probe") {
        buildsStarted.incrementAndGet()
        Seq((1L, 1L)).toDF("a", "b")
      }.count()
    })
    import scala.concurrent.duration._
    futures.foreach(f => assert(Await.result(f, 120.seconds) == 1L))
    assert(buildsStarted.get() == 1, "per-key latch must serialize the build")
    assert(Artifacts.count == before + 1)
  }

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

  test("artifacts are write-once: re-running a consumer adds no builds") {
    // build BOTH consumers' artifact chains first, THEN sample the count —
    // sampling before the first semanticClusters run would count its
    // initial builds as a violation regardless of execution order
    Dedup.weightedJaccard(spark, TestSpark.Sf0001).count()
    Similarity.semanticClusters(spark, TestSpark.Sf0001).count()
    val n = Artifacts.count
    Dedup.weightedJaccard(spark, TestSpark.Sf0001).count()
    Similarity.semanticClusters(spark, TestSpark.Sf0001).count()
    assert(Artifacts.count == n, "repeat invocations must reuse written artifacts")
  }

  test("staged roundtrip files are not index artifacts: Artifacts.count " +
    "stays put") {
    // a fresh input (links to the sf0.001 tables), so the staged JSON is
    // written by this very call rather than found from an earlier build
    import java.nio.file.Files
    val fresh = Files.createTempDirectory("graft-artcount-")
    val links = new java.io.File(TestSpark.Sf0001).listFiles().toSeq
      .map(t => Files.createSymbolicLink(fresh.resolve(t.getName), t.toPath))
    try {
      val before = Artifacts.count
      assert(SparkEntry.queries("rel_json_roundtrip")(spark, fresh.toString)
        .collect().nonEmpty)
      assert(Artifacts.count == before,
        "staging a roundtrip's files must not count as an index build")
    } finally (links :+ fresh).foreach(Files.delete)
  }

  test("a fresh artifact is read with the schema it wrote: no " +
    "schema-inference job") {
    import java.nio.file.Files
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // a fresh input (links to the sf0.001 tables), so every artifact below
    // is written by this very call; an artifact write runs inside a SQL
    // execution, a parquet footer inference outside any
    val fresh = Files.createTempDirectory("graft-artschema-")
    val links = new java.io.File(TestSpark.Sf0001).listFiles().toSeq
      .map(t => Files.createSymbolicLink(fresh.resolve(t.getName), t.toPath))
    val inferences = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val stage = e.stageInfos.map(_.name).headOption.getOrElse("?")
        if (e.properties.getProperty("spark.sql.execution.id") == null &&
          stage.startsWith("parquet at Artifacts.scala")) inferences.add(stage)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val before = Artifacts.count
      val df = SparkEntry.queries("sim_label_centroids")(spark, fresh.toString)
      assert(Artifacts.count > before, "the artifacts must be built by this call")
      assert(df.collect().nonEmpty)
      org.apache.spark.GraftSpark.drainListenerBus(spark.sparkContext)
      assert(inferences.isEmpty, s"schema-inference jobs: $inferences")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      (links :+ fresh).foreach(Files.delete)
    }
  }
}
