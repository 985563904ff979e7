package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  private lazy val brute = Similarity.bruteForceTopK(spark, TestSpark.Sf0001).collect()

  test("brute-force top-k: 10 neighbors per query, self excluded, cosine in [-1,1]") {
    val byQuery = brute.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.foreach { case (q, rows) =>
      assert(rows.length == 10)
      assert(!rows.exists(_.getLong(1) == q), "self must be excluded")
      assert(rows.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-12))
      val ranks = rows.map(_.getInt(2)).sorted
      assert(ranks.sameElements(1 to 10))
      val sims = rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, "ranked by descending cosine")
    }
  }

  test("LSH top-k achieves nonzero recall vs brute force on unclustered vectors") {
    val lsh = Similarity.lshTopK(spark, TestSpark.Sf0001).collect()
    val bruteSet = brute.map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshSet = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bruteSet & lshSet).size.toDouble / bruteSet.size
    // 8 tables x 4 bits over ~uniform random vectors: candidate sets cover
    // ~40% of the corpus; near-neighbors (high cosine) hash together more
    // often, so recall must clearly beat the random-candidate floor.
    assert(recall >= 0.4, s"recall@10 was $recall")
  }

  test("embedding near-dup pairs: threshold respected, subset of brute-force truth") {
    val got = Similarity.embeddingCosinePairs(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty, "banding/threshold should yield pairs on this corpus")
    got.foreach { case (a, b, c) =>
      assert(a < b, "canonical pair order")
      assert(c >= 0.35, s"below threshold: ($a,$b,$c)")
    }
    // precision is exact by construction (candidates are verified with true
    // cosine): every emitted pair must be in the all-pairs ground truth
    val e = Tables.embeddings(spark, TestSpark.Sf0001).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Long, b: Long): Double = {
      val (va, vb) = (e(a), e(b))
      var dp, na, nb = 0.0
      var i = 0
      while (i < va.length) { dp += va(i) * vb(i); na += va(i) * va(i); nb += vb(i) * vb(i); i += 1 }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    got.foreach { case (a, b, c) =>
      assert(math.abs(cos(a, b) - c) < 1e-9, s"reported cosine wrong for ($a,$b)")
    }
  }

  test("IVF k-means: valid top-k shape, deterministic across runs") {
    val km = Similarity.ivfKmeansTopK(spark, TestSpark.Sf0001).collect()
    val byQuery = km.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.foreach { case (q, rows) =>
      assert(rows.length == 10)
      assert(!rows.exists(_.getLong(1) == q))
      val sims = rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
    val again = Similarity.ivfKmeansTopK(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(again == km.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet,
      "quantized-integer Lloyd steps must be reproducible")
  }

  test("IVF top-k: full lists probed deterministically, sane output shape") {
    val ivf = Similarity.ivfTopK(spark, TestSpark.Sf0001).collect()
    val byQuery = ivf.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.foreach { case (q, rows) =>
      assert(rows.length == 10)
      assert(!rows.exists(_.getLong(1) == q))
    }
    // deterministic across runs (quantized integer centroid math)
    val again = Similarity.ivfTopK(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(again == ivf.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
  }

  test("PQ ADC top-k: valid shape, ranked by ascending distance, deterministic") {
    val pq = Similarity.pqTopK(spark, TestSpark.Sf0001).collect()
    val byQuery = pq.groupBy(_.getLong(0))
    assert(byQuery.size == 10)
    byQuery.foreach { case (q, rows) =>
      assert(rows.length == 10)
      assert(!rows.exists(_.getLong(1) == q), "self must be excluded")
      val ranks = rows.map(_.getInt(2)).sorted
      assert(ranks.sameElements(1 to 10))
      val d2 = rows.sortBy(_.getInt(2)).map(_.getLong(3))
      assert(d2.zip(d2.tail).forall { case (a, b) => a <= b },
        "ranked by ascending ADC distance")
      assert(d2.forall(_ >= 0L), "squared distances are non-negative")
    }
    val again = Similarity.pqTopK(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(again == pq.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet,
      "integer-quantized codebooks must be reproducible")
  }

  test("PQ recall vs brute force clearly beats the random floor") {
    val pq = Similarity.pqTopK(spark, TestSpark.Sf0001).collect()
    val bruteSet = brute.map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqSet = pq.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bruteSet & pqSet).size.toDouble / bruteSet.size
    // 8 subspaces x 8 codes over ~uniform vectors is a coarse 8-byte code;
    // random top-10 of ~500 docs would land ~2% — require a real signal.
    assert(recall >= 0.1, s"recall@10 was $recall")
  }

  test("recall_eval reproduces the set-arithmetic recall for every method") {
    val eval = Similarity.recallEval(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(eval.keys.map(_._1).toSet == Set("ivf", "ivfpq", "lsh", "mplsh", "pq"))
    // multi-probe's candidate superset can never lose hits vs single-probe
    eval.keys.collect { case ("lsh", q) => q }.foreach { q =>
      assert(eval(("mplsh", q)) >= eval(("lsh", q)),
        s"mplsh hits below lsh for query $q")
    }
    // cross-check one method against an independent set computation
    val bruteByQ = brute.map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshSet = Similarity.lshTopK(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (bruteByQ & lshSet).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    brute.map(_.getLong(0)).distinct.foreach { q =>
      assert(eval(("lsh", q)) == expect.getOrElse(q, 0L),
        s"lsh hits for query $q disagree with set arithmetic")
    }
  }

  test("k-core bounded peel reaches its fixpoint on the mutual-kNN graph") {
    val core = Similarity.kcore(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(core.nonEmpty, "the 3-core of this corpus is non-trivial")
    // every surviving node at degree >= k IS the fixpoint condition: one
    // more peel round would remove nothing
    core.foreach { case (id, deg) =>
      assert(deg >= 3L, s"node $id survived the bounded peel with degree $deg < k")
    }
  }

  test("assortativity: a valid Pearson r, and n_edges matches an independent mutual count") {
    val row = Similarity.assortativity(spark, TestSpark.Sf0001).head()
    val (n, r) = (row.getLong(0), row.getDouble(1))
    assert(!r.isNaN && r >= -1.0 && r <= 1.0, s"r=$r out of Pearson range")
    // independent mutual-edge count from the kNN relation itself
    val knn = Similarity.knnGraph(spark, TestSpark.Sf0001).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val mutual = knn.count { case (a, b) => knn.contains((b, a)) }
    assert(n == mutual.toLong, s"n_edges=$n, independent mutual count=$mutual")
    assert(n % 2 == 0, "a symmetric directed edge list has even cardinality")
  }

  test("search skeleton: exact ties go to the lowest id, and K and the " +
    "probe count are respected") {
    val s = spark
    import s.implicits._
    def ids(df: org.apache.spark.sql.DataFrame, key: String, id: String, ord: String) =
      df.collect().toSeq.groupBy(_.getAs[Long](key)).map { case (k, rs) =>
        k -> rs.sortBy(_.getAs[Int](ord)).map(_.getAs[Long](id)) }
    // nearest lists: equal d2 across list_ids
    val dist = Seq((1L, 5L, 10L), (1L, 3L, 10L), (1L, 7L, 10L), (1L, 2L, 20L),
      (2L, 9L, 1L), (2L, 6L, 2L), (2L, 4L, 2L)).toDF("vec_id", "list_id", "d2")
    assert(ids(Similarity.nearestLists(dist, 1), "vec_id", "list_id", "rn") ===
      Map(1L -> Seq(3L), 2L -> Seq(9L)))
    assert(ids(Similarity.nearestLists(dist, 2), "vec_id", "list_id", "rn") ===
      Map(1L -> Seq(3L, 5L), 2L -> Seq(9L, 4L)))
    // top-K: equal cos_sim (and equal approx_d2) across neighbor_ids; one
    // strictly better neighbor ranks first, the K-1 lowest tied ids follow
    val k = Similarity.K
    val tied = (20L to 0L by -1L).map(n => (7L, n, if (n == 15L) 0.9 else 0.5))
    val exact = Similarity.topK(tied.toDF("query_id", "neighbor_id", "cos_sim"),
      org.apache.spark.sql.functions.col("cos_sim").desc)
    assert(ids(exact, "query_id", "neighbor_id", "rank") ===
      Map(7L -> (15L +: (0L until k - 1L))))
    val pq = Similarity.topK(
      tied.map { case (q, n, c) => (q, n, if (c > 0.8) 1L else 5L) }
        .toDF("query_id", "neighbor_id", "approx_d2"),
      org.apache.spark.sql.functions.col("approx_d2"))
    assert(ids(pq, "query_id", "neighbor_id", "rank") ===
      Map(7L -> (15L +: (0L until k - 1L))))
    // exact re-rank: parallel vectors score exactly equal cosines
    val e = Seq((0L, Seq(1.0, 0.0)), (8L, Seq(2.0, 0.0)), (3L, Seq(3.0, 0.0)),
      (5L, Seq(0.5, 0.0)), (4L, Seq(0.0, 1.0))).toDF("vec_id", "v")
    val cand = Seq((0L, 8L), (0L, 5L), (0L, 3L), (0L, 4L)).toDF("query_id", "neighbor_id")
    assert(ids(Similarity.rerank(cand, e), "query_id", "neighbor_id", "rank") ===
      Map(0L -> Seq(3L, 5L, 8L, 4L)))
    // band probe: the query itself excluded, a pair sharing two bands once,
    // the Hamming-1 probe only when multiprobe
    val bands = Seq((0L, 0, 6L), (0L, 1, 1L), (1L, 0, 6L), (1L, 1, 1L),
      (2L, 0, 7L), (3L, 1, 1L), (4L, 0, 4L), (5L, 0, 5L)).toDF("vec_id", "tbl", "bkey")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs(Similarity.bandProbe(bands, bits = 3, multiprobe = false, nQ = 1)) ===
      Seq((0L, 1L), (0L, 3L)))
    assert(pairs(Similarity.bandProbe(bands, bits = 3, multiprobe = true, nQ = 1)) ===
      Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    // band pairs: unordered (vec_a < vec_b) and distinct
    assert(pairs(Similarity.bandPairs(bands)) === Seq((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  // ---- SRP band geometry, the recall probes and the pair-band audit ----

  test("bandBits keeps adapting past the old 2^16 ceiling and fails " +
    "loudly at the new one") {
    // unchanged below the old ceiling (every swept scale)
    assert(Similarity.bandBits(500L) === 4)
    assert(Similarity.bandBits(20000L) === 7)
    assert(Similarity.bandBits(200000L) === 10)
    // the round-13 `weak`: 16.8M vectors used to freeze at 16 bits with
    // occupancy growing ∝ n; now the step function continues
    assert(Similarity.bandBits(256L << 16) === 16)
    assert(Similarity.bandBits((256L << 16) + 1) === 17)
    assert(Similarity.bandBits(100000000L) === 19)
    assert(Similarity.bandBits(256L << 23) === 23)
    assert(Similarity.bandBits(256L << 24) === 24)
    // occupancy invariant n <= 256·2^bits holds at every step edge
    for (b <- 4 to Similarity.MaxBits) {
      val n = 256L << b
      assert(Similarity.bandBits(n) <= b)
      assert(n <= (256L << Similarity.bandBits(n)))
    }
    // past 256·2^24 the geometry REFUSES rather than silently running a
    // superlinear banded self-join
    val e = intercept[IllegalArgumentException] {
      Similarity.bandBits((256L << 24) + 1)
    }
    assert(e.getMessage.contains("MaxBits"))
  }

  test("plane catalog is append-only: original (t, j<16) indices are " +
    "byte-identical to the round-13 layout, extension planes disjoint") {
    val all = for (t <- 0 until 8; j <- 0 until Similarity.MaxBits)
      yield Similarity.planeIdx(t, j)
    assert(all.distinct.size === all.size, "plane index collision")
    for (t <- 0 until 8; j <- 0 until 16)
      assert(Similarity.planeIdx(t, j) === t * 16 + j,
        s"original plane ($t,$j) moved — swept-scale artifacts would change")
    for (t <- 0 until 8; j <- 16 until Similarity.MaxBits)
      assert(Similarity.planeIdx(t, j) >= 128,
        s"extension plane ($t,$j) collides with the original block")
    // coefficients themselves: deterministic, ±1, and the extension
    // block differs from the original planes it must be independent of
    val c0 = (0 until 64).map(d => Similarity.planeCoef(Similarity.planeIdx(0, 0), d))
    val cx = (0 until 64).map(d => Similarity.planeCoef(Similarity.planeIdx(0, 16), d))
    assert(c0.forall(v => v == 1 || v == -1))
    assert(c0 !== cx)
  }

  test("grown-table plane block: injective over a 32-table budget and " +
    "disjoint from both committed blocks") {
    val all = for (t <- 0 until 32; j <- 0 until Similarity.MaxBits)
      yield Similarity.planeIdx(t, j)
    assert(all.distinct.size === all.size, "plane index collision")
    // the two committed blocks are byte-identical to the round-14 layout
    for (t <- 0 until 8; j <- 0 until 16)
      assert(Similarity.planeIdx(t, j) === t * 16 + j)
    assert(Similarity.ExtTableBase === 8 * 16 + 8 * (Similarity.MaxBits - 16))
    // grown tables start exactly at the third block and never dip below
    for (t <- 8 until 32; j <- 0 until Similarity.MaxBits)
      assert(Similarity.planeIdx(t, j) >= Similarity.ExtTableBase,
        s"grown plane ($t,$j) collides with a committed block")
    // coefficients stay deterministic ±1 into the grown block
    val cg = (0 until 64).map(d =>
      Similarity.planeCoef(Similarity.planeIdx(9, 3), d))
    assert(cg.forall(v => v == 1 || v == -1))
  }

  test("probeGroundTruth at the production query count reproduces the " +
    "brute-force family exactly") {
    val gt = Similarity.probeGroundTruth(spark, TestSpark.Sf0001, 10)
      .orderBy("query_id", "rank").collect().toSeq
    val bf = Similarity.bruteForceTopK(spark, TestSpark.Sf0001)
      .orderBy("query_id", "rank").collect().toSeq
    assert(gt === bf)
  }

  test("recallProbeAt: multi-probe dominates single-probe pointwise, a " +
    "grown table budget dominates the base budget pointwise, and every " +
    "row is internally consistent") {
    val dir = TestSpark.Sf0001
    val n = Tables.embeddings(spark, dir).count()
    val bits = Similarity.bandBits(n)
    def byQ(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("hits"), r.getAs[Long]("n_cand"),
          r.getAs[Double]("recall_at_k"))).toMap
    def probe(tables: Int, multi: Boolean) = {
      val cand = Similarity.probeCandidates(spark, dir, bits, tables,
        multi, nQ = 16).persist()
      try byQ(Similarity.recallProbeAt(spark, dir, cand, nQ = 16)
        .collect().toSeq)
      finally cand.unpersist()
    }
    val single = probe(8, multi = false)
    val multi = probe(8, multi = true)
    val grown = probe(16, multi = false)
    assert(single.keySet === multi.keySet)
    assert(single.keySet === grown.keySet)
    assert(single.nonEmpty)
    single.foreach { case (q, (h, c, r)) =>
      assert(h >= 0 && h <= Similarity.K)
      assert(c >= h, s"query $q: candidates $c < hits $h")
      assert(c <= n - 1)
      assert(r === h.toDouble / Similarity.K)
      // multi-probe candidates are a superset (same keys + flipped keys)
      assert(multi(q)._1 >= h, s"query $q: multi-probe lost recall")
      assert(multi(q)._2 >= c, s"query $q: multi-probe lost candidates")
      // tables 0..7 are a prefix of the 16-table budget (append-only
      // catalog), so the grown candidate set is a superset too
      assert(grown(q)._1 >= h, s"query $q: grown tables lost recall")
      assert(grown(q)._2 >= c, s"query $q: grown tables lost candidates")
    }
  }

  test("recallThetaProfile partitions the exact truth: bucket counts sum " +
    "to nQ*K and bucket hits sum to the per-query hit total") {
    val dir = TestSpark.Sf0001
    val bits = Similarity.bandBits(Tables.embeddings(spark, dir).count())
    val cand = Similarity.probeCandidates(spark, dir, bits, 8,
      multiprobe = false, nQ = 16).persist()
    val (prof, perQ) =
      try (Similarity.recallThetaProfile(spark, dir, cand, nQ = 16).collect(),
        Similarity.recallProbeAt(spark, dir, cand, nQ = 16).collect())
      finally cand.unpersist()
    assert(prof.map(_.getAs[Long]("n_truth")).sum === 16L * Similarity.K)
    assert(prof.map(_.getAs[Long]("hits")).sum ===
      perQ.map(_.getAs[Long]("hits")).sum)
    prof.foreach { r =>
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getAs[Long]("hits") <= r.getAs[Long]("n_truth"))
    }
  }

  test("plantedNeighbors: exact cosine at every grid point, unit norm, " +
    "full grid coverage, deterministic") {
    val rows = Similarity.plantedNeighbors(spark, dir, nQ = 8, perCell = 3)
      .collect()
    assert(rows.length === 8 * Similarity.PlantedCosBp.size * 3)
    rows.foreach { r =>
      val bp = r.getAs[Int]("cos_bp")
      val target = bp / 100.0
      val actual = r.getAs[Double]("cos_actual")
      // the rotation realizes the target cosine to float-op rounding
      assert(math.abs(actual - target) < 1e-9,
        s"cos_bp=$bp realized $actual")
      val v = r.getAs[scala.collection.Seq[Double]]("v")
      assert(v.length === 64)
      val norm = math.sqrt(v.map(x => x * x).sum)
      // ||v||² = c² + (1−c²) = 1 when q̂ and r̂⊥ are orthonormal
      assert(math.abs(norm - 1.0) < 1e-9, s"norm $norm")
    }
    // grid coverage: every (query, bucket, rep) cell present exactly once
    val cells = rows.map(r => (r.getAs[Long]("query_id"),
      r.getAs[Int]("cos_bp"), r.getAs[Int]("rep")))
    assert(cells.distinct.length === cells.length)
    // determinism: a second run produces identical vectors
    val again = Similarity.plantedNeighbors(spark, dir, nQ = 8, perCell = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("cos_bp"),
        r.getAs[Int]("rep")) -> r.getAs[scala.collection.Seq[Double]]("v"))
      .toMap
    rows.foreach { r =>
      val k = (r.getAs[Long]("query_id"), r.getAs[Int]("cos_bp"),
        r.getAs[Int]("rep"))
      assert(again(k) === r.getAs[scala.collection.Seq[Double]]("v"))
    }
  }

  test("plantedThetaRecall: one row per grid bucket with the full pair " +
    "count, recall in [0,1], and budget dominance (multi-probe and grown " +
    "tables can only add collisions)") {
    val n = Tables.embeddings(spark, dir).count()
    val bits = Similarity.bandBits(n)
    def byBucket(tables: Int, multi: Boolean) =
      Similarity.plantedThetaRecall(spark, dir, bits, tables, multi,
        nQ = 8, perCell = 3)
        .collect()
        .map(r => r.getAs[Double]("cos_target") ->
          (r.getAs[Long]("n_pairs"), r.getAs[Long]("hits"),
            r.getAs[Double]("recall"))).toMap
    val single = byBucket(8, multi = false)
    val multi = byBucket(8, multi = true)
    val grown = byBucket(16, multi = false)
    val grid = Similarity.PlantedCosBp.map(_ / 100.0)
    assert(single.keySet === grid.toSet)
    grid.foreach { c =>
      val (np, h, rec) = single(c)
      assert(np === 8L * 3)
      assert(h >= 0 && h <= np)
      assert(rec === h.toDouble / np)
      // the multi-probe key set contains the single-probe keys, and
      // tables 0..7 are a prefix of the 16-table catalog: collision is
      // monotone in the probe-key set, so dominance holds PER PAIR —
      // bucket hits can only grow
      assert(multi(c)._2 >= h, s"bucket $c: multi-probe lost hits")
      assert(grown(c)._2 >= h, s"bucket $c: grown tables lost hits")
    }
    // mean realized cosine tracks the target at every bucket
    Similarity.plantedThetaRecall(spark, dir, bits, 8, multiprobe = false,
      nQ = 8, perCell = 3).collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("mean_cos_actual") -
        r.getAs[Double]("cos_target")) < 1e-9)
    }
  }

  test("pair-detector grown-table schedule: integer thresholds mirrored " +
    "verbatim in the oracle CASE, inert at every oracle-swept scale") {
    // the schedule (measured by the planted probes at 1.2M/12M vectors)
    assert(Similarity.pairTablesFor(4096L) === 4)
    assert(Similarity.pairTablesFor(4097L) === 8)
    assert(Similarity.pairTablesFor(Similarity.PairGrow16Rows) === 8)
    assert(Similarity.pairTablesFor(Similarity.PairGrow16Rows + 1) === 16)
    assert(Similarity.pairTablesFor(Similarity.PairGrow32Rows) === 16)
    assert(Similarity.pairTablesFor(Similarity.PairGrow32Rows + 1) === 32)
    // oracle mirror: the same integers in the same CASE order
    assert(Similarity.embeddingCosinePairsSql.contains(
      s"CASE WHEN c <= 4096 THEN 4 " +
        s"WHEN c <= ${Similarity.PairGrow16Rows} THEN 8 " +
        s"WHEN c <= ${Similarity.PairGrow32Rows} THEN 16 ELSE 32 END"))
    // the grown regimes need the grown plane catalog in the VALUES block
    assert(Similarity.embeddingCosinePairsSql.contains("(31, 0, "))
    // every oracle-swept corpus (<= 300k docs at sf6) stays in the 4/8
    // regimes, so the schedule cannot move a swept result
    assert(Similarity.PairGrow16Rows > 400000L)
    // the grown budgets stay inside the injective catalog (Round15Spec
    // pins planeIdx injectivity over 32 tables)
    assert(Similarity.pairTablesFor(Long.MaxValue) <= 32)
  }

  test("pairBandAudit matches an independent driver-side recomputation " +
    "(band keys, occupancy, candidate count, digests) at sf0.001") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toArray))
    val n = emb.length.toLong
    val tables = Similarity.pairTablesFor(n)
    val bits = Similarity.bandBits(n)
    // recompute every band row with the same left-to-right double fold
    // the engines use (dot's sequential aggregate; planeCoef is pure)
    val rows = for {
      (id, v) <- emb.toSeq
      t <- 0 until tables
    } yield {
      var bkey = 0L
      for (j <- 0 until bits) {
        var acc = 0.0
        var d = 0
        while (d < 64) {
          acc += v(d) * Similarity.planeCoef(Similarity.planeIdx(t, j), d)
          d += 1
        }
        if (acc > 0) bkey |= (1L << j)
      }
      (t, id, bkey)
    }
    val expect = rows.groupBy(_._1).map { case (t, rs) =>
      val occ = rs.groupBy(_._3).map(_._2.size.toLong).toSeq
      val d1 = rs.map { case (_, id, bk) =>
        (id * 2654435761L + bk * 40503L) % 2147483648L }.sum
      val d2 = rs.map { case (_, id, bk) =>
        (id * 1779033703L + bk * 104729L) % 2147483648L }.sum
      t -> ((rs.size.toLong, occ.size.toLong, occ.max,
        occ.map(o => o * (o - 1) / 2).sum, d1, d2))
    }
    val got = Similarity.pairBandAudit(spark, dir).collect()
    assert(got.length === tables)
    got.foreach { r =>
      val t = r.getAs[Int]("tbl")
      val (nr, nb, mo, cp, d1, d2) = expect(t)
      assert(r.getAs[Long]("n_rows") === nr, s"tbl $t n_rows")
      assert(r.getAs[Long]("n_buckets") === nb, s"tbl $t n_buckets")
      assert(r.getAs[Long]("max_occ") === mo, s"tbl $t max_occ")
      assert(r.getAs[Long]("cand_pairs") === cp, s"tbl $t cand_pairs")
      assert(r.getAs[Long]("digest1") === d1, s"tbl $t digest1")
      assert(r.getAs[Long]("digest2") === d2, s"tbl $t digest2")
    }
  }

  test("pairBandAuditSql embeds the pair family's bands CTE byte-verbatim") {
    assert(
      Similarity.pairBandAuditSql.startsWith(Similarity.cosinePairsHeadSql),
      "the audit oracle must reuse cosinePairsHeadSql so the audited " +
        "bands text is the text every pair-family oracle executes")
  }

  test("knnGraphBuild (unordered-pair scoring) equals the two-sided reference form") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFns._
    // the pre-round-17 pipeline, inlined as the reference: ordered candidate
    // pairs in both directions, each direction scored independently
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val opt = Similarity.knnGraphBuild(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    // recompute the band relation through the same deterministic producer
    // (content-identical to the materialized artifact the build read)
    val n = e.count()
    val bands = Similarity.srpBandsBuild(spark, dir,
      tables = 8, bits = Similarity.bandBits(n))
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("src_id"), col("y.vec_id").as("neighbor_id"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    val ref = cand
      .join(e.select(col("vec_id").as("sv"), col("v").as("va")), col("src_id") === col("sv"))
      .drop("sv")
      .join(e.select(col("vec_id").as("nv"), col("v").as("vb")), col("neighbor_id") === col("nv"))
      .drop("nv")
      .select(col("src_id").as("vec_id"), col("neighbor_id"),
        cosineFast(col("va"), col("vb")).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("vec_id"), col("neighbor_id"), col("rank"), col("cos_sim"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    assert(opt == ref,
      s"optimized kNN graph diverges: only-opt=${(opt -- ref).take(5)} " +
        s"only-ref=${(ref -- opt).take(5)}")
  }

  test("sim_kmeans_assign artifact equals the inline Lloyd assignment, " +
    "and the filtered-probe k-means IVF search equals the round-17 form") {
    val art = operators.Similarity.kmeansAssign(spark, dir)
    val inline = operators.Similarity.kmeansAssignInline(spark, dir)
    assert(art.exceptAll(inline).isEmpty && inline.exceptAll(art).isEmpty)
    val now = operators.Similarity.ivfKmeansTopK(spark, dir)
    val old = operators.Similarity.ivfKmeansTopKInline(spark, dir)
    assert(now.columns.toSeq === Seq("query_id", "neighbor_id", "rank", "cos_sim"))
    assert(now.exceptAll(old).isEmpty && old.exceptAll(now).isEmpty)
    assert(now.count() > 0)
  }

  test("sim_recall_eval tagged-union form equals the round-17 per-method form") {
    import operators.Similarity
    val now = Similarity.recallEval(spark, dir)
    assert(now.columns.toSeq === Seq("method", "query_id", "hits", "recall_at_k"))
    // round-17 body, verbatim: five independent semi-join branches
    val bf = Similarity.bruteForceTopK(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val qs = bf.select(col("query_id")).distinct()
    def one(method: String, ap: org.apache.spark.sql.DataFrame) = {
      val hits = bf
        .join(ap.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("h"))
      qs.join(hits, Seq("query_id"), "left")
        .select(lit(method).as("method"), col("query_id"),
          coalesce(col("h"), lit(0L)).as("hits"),
          (coalesce(col("h"), lit(0L)).cast("double") / Similarity.K)
            .as("recall_at_k"))
    }
    val old = one("ivf", Similarity.ivfTopK(spark, dir))
      .unionByName(one("ivfpq", Similarity.ivfPqTopK(spark, dir)))
      .unionByName(one("lsh", Similarity.lshTopK(spark, dir)))
      .unionByName(one("mplsh", Similarity.multiProbeTopK(spark, dir)))
      .unionByName(one("pq", Similarity.pqTopK(spark, dir)))
    assert(now.exceptAll(old).isEmpty && old.exceptAll(now).isEmpty)
    assert(now.count() > 0)
  }
}
