package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 additions: the cluster-real artifacts layer (the fixpoint
  * partitioning spec lives in GraphSpec). */
class Round6Spec extends AnyFunSuite {
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
}
