package graft

import org.scalatest.funsuite.AnyFunSuite

/** Partition-count independence: a 1000-executor cluster runs these plans
  * with completely different partitionings than local[32] — results must be
  * bit-identical anyway. This is the claim behind every design rule here
  * (exact decimal sums, integer-cents division, hash-derived sampling,
  * quantized centroids), so it gets its own spec: representative queries
  * from each risk family run under two different shuffle partition counts
  * and must collect identical rows.
  */
class DeterminismSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Sensitive = Seq(
    "gold_product_metrics", // decimal aggregation + avg division
    "dedup_minhash_lsh", // hash pipeline + band joins
    "dedup_components", // iterative fixpoint
    "events_sessions", // window + derived-key aggregation
    "rel_approx_distinct", // sketch with bound
    "sim_ivf_kmeans_topk", // iterative quantized k-means
    "sample_balanced_per_lang", // hash-order window rank
    "rel_zscore_outliers", // integer decision boundary (n·c−s)² vs 9(n·q−s²)
    "events_top_paths") // ordered-pivot path fold + global-share window

  private def run(name: String): Seq[String] = {
    val df = SparkEntry.queries(name)(spark, TestSpark.Sf0001)
    df.collect().map(_.toString).toSeq
  }

  test("representative queries are identical under different shuffle partitionings") {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val at32 = Sensitive.map(n => n -> run(n)).toMap
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      spark.catalog.clearCache() // drop persisted intermediates built at 32
      val at7 = Sensitive.map(n => n -> run(n)).toMap
      Sensitive.foreach { n =>
        assert(at32(n) == at7(n), s"$n differs across partitionings")
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", saved)
      spark.catalog.clearCache()
    }
  }

  test("pipeline BUILDS are partition-independent (artifact cache bypassed)") {
    // Artifact-backed queries read the same written parquet under any
    // partitioning, so the first test no longer exercises their producer
    // pipelines. Non-default geometries run their banding and verification
    // live (the 16x4 MinHash writes only its signature table) — the
    // partition-independence claim is pinned on those, plus the shared
    // components fixpoint on a synthetic graph, the power iteration and
    // the k-core peel with its default single-task finish.
    import spark.implicits._
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    def runs(): Seq[Seq[String]] = {
      val lsh = operators.Dedup
        .minhashLsh(spark, TestSpark.Sf0001, numPerms = 16, numBands = 4)
        .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
      val sim = operators.Dedup
        .simhashPairs(spark, TestSpark.Sf0001, nBands = 6, bandBits = 10, hammingMax = 5)
        .orderBy("doc_a", "doc_b").collect().map(_.toString).toSeq
      val chain = (0L until 40L).map(i => (i * 3, i * 3 + 3)).toDF("a", "b")
      val comp = operators.Graph.components(spark, chain)
        .orderBy("id").collect().map(_.toString).toSeq
      // the ANN producer pipelines (their bases are artifact scans, but
      // every partition-sensitive stage — band joins, windows, quantized
      // aggregations, top-k — runs live here)
      val bf = operators.Similarity.bruteForceTopKBuild(spark, TestSpark.Sf0001)
        .orderBy("query_id", "rank").collect().map(_.toString).toSeq
      val knn = operators.Similarity.knnGraphBuild(spark, TestSpark.Sf0001)
        .orderBy("vec_id", "rank").collect().map(_.toString).toSeq
      val pq = operators.Similarity.pqTopKBuild(spark, TestSpark.Sf0001)
        .orderBy("query_id", "rank").collect().map(_.toString).toSeq
      // fixed-point power iteration, integer renormalization
      val pca = operators.Similarity.pcaPowerBuild(spark, TestSpark.Sf0001)
        .orderBy("d").collect().map(_.toString).toSeq
      // peel fixpoint with its single-task finish
      val kcore = operators.Similarity.kcoreWithThreshold(spark, TestSpark.Sf0001,
          operators.Similarity.LocalPeelEdges)
        .orderBy("vec_id").collect().map(_.toString).toSeq
      Seq(lsh, sim, comp, bf, knn, pq, pca, kcore)
    }
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val at32 = runs()
      spark.catalog.clearCache()
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      val at5 = runs()
      Seq("minhash-lsh 16x4", "simhash 6x10", "components",
        "bruteforce-topk build", "knn-graph build", "pq-topk build",
        "pca-power build", "k-core build")
        .zipWithIndex.foreach {
          case (name, i) => assert(at32(i) == at5(i), s"$name differs across partitionings")
        }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", saved)
      spark.catalog.clearCache()
    }
  }
}
