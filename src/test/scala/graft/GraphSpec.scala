package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** The graph fixpoints: connected components ([[operators.Graph.components]])
  * and the k-core peel ([[Similarity.kcore]]), both on
  * [[operators.Graph.fixpoint]]. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Level-synchronous reference peel — the definitionally-simple form the
    * distributed implementation mirrors: remove ALL below-k vertices each
    * round until stable. */
  private def referencePeel(edges: Set[(Long, Long)], k: Int): Set[(Long, Long)] = {
    var cur = edges
    var stable = false
    while (!stable) {
      val deg = cur.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = cur.filter { case (a, b) => keep(a) && keep(b) }
      stable = next == cur
      cur = next
    }
    cur
  }

  test("semantic clusters equal union-find over the cosine pair graph") {
    val pairs = Similarity.embeddingCosinePairs(spark, TestSpark.Sf0001)
      .select(col("vec_a"), col("vec_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must exercise a non-trivial graph")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val roots = parent.keys.map(v => v -> find(v)).toMap
    val sizes = roots.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val expected = roots.map { case (v, r) => v -> (r, sizes(r)) }

    val got = Similarity.semanticClusters(spark, TestSpark.Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
  }

  test("label propagation converges on a chain deeper than the round cap") {
    import spark.implicits._
    // a 60-hop path: neighbor-only propagation needs 60 rounds (more than
    // the 20-round cap the loop once had) — pointer jumping must close it
    // in O(log n)
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val got = operators.Graph.components(spark, chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 61)
    assert(got.values.forall(_ == 0L), "every chain node must reach the minimum")
    // a second component stays separate
    val two = chain.unionByName(Seq((1000L, 1001L), (1001L, 1002L)).toDF("a", "b"))
    val got2 = operators.Graph.components(spark, two).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2(1002L) == 1000L && got2(59L) == 0L)
  }

  test("components fixpoint partitioning follows the session shuffle setting") {
    import spark.implicits._
    val edges = (0L until 100L).map(i => (i, i + 1)).toDF("a", "b")
    val orig = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // the fixpoint's edge relation must be sized by the session, not a
      // hardcoded width — 8 partitions on a 1000-executor cluster would cap
      // every round of every near-dup component computation
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(operators.Graph.fixpointPartitions(spark) == 7)
      assert(operators.Graph.symmetrized(spark, edges).rdd.getNumPartitions == 7)
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      assert(operators.Graph.symmetrized(spark, edges).rdd.getNumPartitions == 13)
      // and the fixpoint still converges to the right labels at either width
      val got = operators.Graph.components(spark, edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 101 && got.values.forall(_ == 0L))
    } finally spark.conf.set("spark.sql.shuffle.partitions", orig)
  }

  test("localPeel equals the level-synchronous reference on adversarial graphs") {
    // symmetric edge lists (both directions), k = 3
    def sym(pairs: (Long, Long)*): Set[(Long, Long)] =
      pairs.toSet ++ pairs.map { case (a, b) => (b, a) }.toSet
    val clique5 = sym((for {
      a <- 0L to 4L; b <- 0L to 4L if a < b
    } yield (a, b)): _*)
    val chain = sym((0L until 10L).map(i => (i, i + 1)): _*)
    // clique with a pendant path: the path peels away over several levels,
    // the clique survives
    val cliquePlusTail = clique5 ++ sym((4L, 5L), (5L, 6L), (6L, 7L))
    // two cliques joined by a bridge — bridge endpoints keep degree >= 3
    val bridged = clique5 ++
      sym((for {
        a <- 10L to 14L; b <- 10L to 14L if a < b
      } yield (a, b)): _*) ++ sym((4L, 10L))
    for ((g, name) <- Seq((clique5, "clique5"), (chain, "chain"),
        (cliquePlusTail, "clique+tail"), (bridged, "bridged"),
        (Set.empty[(Long, Long)], "empty"))) {
      val got = Similarity.localPeel(g.toArray, 3).toSet
      assert(got === referencePeel(g, 3), s"graph $name")
    }
  }

  test("hybrid k-core: pure-distributed and pure-local regimes agree with " +
    "the default on real data") {
    val dir = TestSpark.Sf0001
    def result(threshold: Long): Set[(Long, Long)] =
      Similarity.kcoreWithThreshold(spark, dir, threshold).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val default = Similarity.kcore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val distributed = result(0L) // every level runs the anti-join peel
    val local = result(Long.MaxValue) // one mapPartitions does everything
    assert(distributed === local)
    assert(default === local)
    assert(local.nonEmpty)
    // and the shared fixpoint property
    local.foreach { case (id, deg) =>
      assert(deg >= Similarity.CoreK.toLong, s"vertex $id below k") }
  }

  test("fixpoint loops leave persisted only the generation their result reads") {
    import spark.implicits._
    val sc = spark.sparkContext
    def reads(df: DataFrame): Set[Int] =
      df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
    def added(run: => DataFrame): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet
      // the registry holds its RDDs weakly, so a generation nothing releases
      // can still leave it at the next GC: hold every RDD seen there while
      // the loop runs, so that only an explicit release counts
      val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
      val running = new java.util.concurrent.atomic.AtomicBoolean(true)
      val holder = new Thread(() => while (running.get()) {
        sc.getPersistentRDDs.values.foreach(held.add)
        Thread.sleep(1)
      })
      holder.start()
      val result = try { val r = run; r.collect(); r } finally {
        running.set(false)
        holder.join()
      }
      val grown = (sc.getPersistentRDDs.keySet -- before).toSet
      assert(grown == reads(result), s"persisted $grown, result reads ${reads(result)}")
      grown
    }
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    assert(added(operators.Graph.components(spark, chain)).size == 1)
    // build the k-core's upstream artifacts first, so only the peel is counted
    Similarity.kcore(spark, TestSpark.Sf0001).collect()
    assert(added(Similarity.kcoreWithThreshold(spark, TestSpark.Sf0001, 0L)).size == 1)
    // artifacts whose builds run a fixpoint read none of its generations:
    // built on an input dir whose artifact keys are fresh (links to the
    // sf0.001 tables), the builds must leave nothing persisted
    val fresh = Files.createTempDirectory("graft-graph-")
    val links = new java.io.File(TestSpark.Sf0001).listFiles().toSeq
      .map(t => Files.createSymbolicLink(fresh.resolve(t.getName), t.toPath))
    try Seq("dedup_components", "sim_semantic_clusters", "sim_kcore").foreach { q =>
      withClue(q)(assert(added(SparkEntry.queries(q)(spark, fresh.toString)).isEmpty))
    } finally (links :+ fresh).foreach(Files.delete)
  }
}
