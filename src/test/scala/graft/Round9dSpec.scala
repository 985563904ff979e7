package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 third wave: cohort LTV and Neyman eval-set allocation.
  * Each test asserts the operator's defining law against an independent
  * driver-side recomputation on the real sf0.001 data, not just shape.
  */
class Round9dSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  test("cohort_ltv: cumulative law, buyer bounds, exact per-user cents") {
    import graft.operators.EventTime
    val rows = EventTime.cohortLtv(spark, dir)
      .orderBy("cohort_wk", "week_offset").collect()
    assert(rows.nonEmpty)

    // buyers are cohort members who purchased that week
    rows.foreach { r =>
      assert(r.getAs[Long]("n_buyers") >= 1)
      assert(r.getAs[Long]("n_buyers") <= r.getAs[Long]("cohort_size"))
      assert(r.getAs[Long]("n_buyers") <= r.getAs[Long]("n_purchases"))
    }

    // per cohort: cum is the running sum of wk_revenue (exact in cents —
    // dec2 output doubles are integer-cent-exact at this magnitude)
    def cents(d: Double): Long = math.round(d * 100)
    rows.groupBy(_.getAs[Long]("cohort_wk")).foreach { case (_, cells) =>
      val sorted = cells.sortBy(_.getAs[Long]("week_offset"))
      var running = 0L
      sorted.foreach { r =>
        running += cents(r.getAs[Double]("wk_revenue"))
        assert(cents(r.getAs[Double]("cum_revenue")) === running)
        // per-user cents is TRUNCATION TOWARD ZERO of the running cents
        // (Java `/` on longs truncates — the operator's documented law;
        // distinct from Math.floorDiv the moment cum goes negative)
        assert(r.getAs[Long]("ltv_per_user_cents") ===
          running / r.getAs[Long]("cohort_size"))
      }
    }

    // the cells cover every purchase exactly once
    val totalPurchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase").count()
    assert(rows.map(_.getAs[Long]("n_purchases")).sum === totalPurchases)

    // distinct cohort sizes sum to the full user population
    val users = Tables.events(spark, dir).select("user_id").distinct().count()
    val sizes = rows.map(r =>
      r.getAs[Long]("cohort_wk") -> r.getAs[Long]("cohort_size")).distinct
    assert(sizes.map(_._2).sum === users)
  }

  test("cohort_ltv division law: abs/sign split truncates toward zero " +
    "on negative cents (the refund case the live data never exercises)") {
    import spark.implicits._
    // mirror the operator's exact expression shape: DECIMAL cum × 100 → the
    // abs/sign-split div — must equal Java long division (trunc), NOT floorDiv
    val got = Seq(-2.50, 2.50, -1.99, 1.99, -0.01)
      .toDF("cum").selectExpr(
        "cast(cum as decimal(18,2)) as cum_dec", "cast(3 as bigint) as n")
      .selectExpr("""case when cum_dec >= 0
                     then div(cast(cum_dec * 100 as bigint), n)
                     else -div(cast((-cum_dec) * 100 as bigint), n)
                     end as got""",
        "cast(cum_dec * 100 as bigint) as cents", "n")
      .collect()
    got.foreach { r =>
      val (cents, n) = (r.getAs[Long]("cents"), r.getAs[Long]("n"))
      assert(r.getAs[Long]("got") === cents / n)
    }
    // sanity: the law genuinely differs from floor on this input set
    assert(got.exists { r =>
      val (cents, n) = (r.getAs[Long]("cents"), r.getAs[Long]("n"))
      cents / n != Math.floorDiv(cents, n)
    })
  }

  test("bpe_merge: exact match with a driver-side reimplementation") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.bpeMerge(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.length === 20)

    // driver-side reimplementation: same symbol-string representation,
    // same two-pass leftmost non-overlapping replace (Java String.replace
    // has the identical scan semantics as Spark UTF8String / DuckDB)
    val tf = Tables.documents(spark, dir).select("text").collect()
      .flatMap(_.getString(0).trim.split("\\s+"))
      .filter(_.length >= 2)
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    def seqOf(tok: String) = " " + tok.map(c => s"$c ").mkString
    def pairCounts(seqs: Iterable[(String, Long)]) = {
      val m = scala.collection.mutable.Map.empty[String, Long]
      for ((seq, cnt) <- seqs) {
        val syms = seq.trim.split(" ")
        for (i <- 0 until syms.length - 1)
          m.updateWith(s"${syms(i)} ${syms(i + 1)}")(v => Some(v.getOrElse(0L) + cnt))
      }
      m.toMap
    }
    val seqs0 = tf.map { case (t, c) => seqOf(t) -> c }
    val pc0 = pairCounts(seqs0)
    val best = pc0.toSeq.minBy { case (p, c) => (-c, p) }._1
    val merged = best.replace(" ", "")
    val seqs1 = seqs0.map { case (s, c) =>
      s.replace(s" $best ", s" $merged ").replace(s" $best ", s" $merged ") -> c
    }
    val top = pairCounts(seqs1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(20)
      .map { case (p, c) => (p, c, merged) }
    assert(rows.toSeq === top)
    // the applied pair is fully consumed — two passes leave no occurrence
    assert(!pairCounts(seqs1).contains(best))
  }

  test("bloom_probe: exact confusion counts vs a driver-side filter") {
    import graft.operators.Relational
    import graft.functions.TextFns.hash60Long
    val r = Relational.bloomProbe(spark, dir).head()

    // driver-side reimplementation with the same hash and 60-bit words
    val hot = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 450000.0)
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val bits = scala.collection.mutable.Set.empty[Long]
    for (k <- hot; i <- 0 until 3)
      bits += math.floorMod(hash60Long(s"$k:$i"), 65536L)
    def positive(k: Long) =
      (0 until 3).forall(i => bits(math.floorMod(hash60Long(s"$k:$i"), 65536L)))
    val probes = Tables.lineitem(spark, dir)
      .select("l_orderkey").distinct().collect().map(_.getLong(0))

    assert(r.getAs[Long]("n_probed") === probes.length.toLong)
    assert(r.getAs[Long]("n_members") === probes.count(hot).toLong)
    assert(r.getAs[Long]("n_bloom_positive") === probes.count(positive).toLong)
    assert(r.getAs[Long]("n_false_positive") ===
      probes.count(k => positive(k) && !hot(k)).toLong)
    // the Bloom guarantee: no member ever misses
    assert(r.getAs[Long]("n_false_negative") === 0L)
    assert(r.getAs[Long]("bits_set") === bits.size.toLong)
    assert(r.getAs[Long]("fill_bp") === bits.size.toLong * 10000 / 65536)
  }

  test("snapshot_drift: recomputed counts and exact chi-square boundary") {
    import graft.operators.Relational
    val rows = Relational.snapshotDrift(spark, dir).collect()
    val docs = Tables.documents(spark, dir).select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val na = docs.count(_._1 % 2 == 0).toLong
    val nb = docs.count(_._1 % 2 == 1).toLong
    assert(rows.map(_.getAs[Long]("k_a")).sum === na)
    assert(rows.map(_.getAs[Long]("k_b")).sum === nb)
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val ka = docs.count(d => d._1 % 2 == 0 && d._2 == lang).toLong
      val kb = docs.count(d => d._1 % 2 == 1 && d._2 == lang).toLong
      assert(r.getAs[Long]("k_a") === ka)
      assert(r.getAs[Long]("k_b") === kb)
      assert(r.getAs[Long]("share_a_bp") === ka * 10000 / na)
      assert(r.getAs[Long]("delta_bp") === kb * 10000 / nb - ka * 10000 / na)
      // the χ² decision recomputed in BigInt (exact, no float boundary)
      val (bka, bkb, bna, bnb) = (BigInt(ka), BigInt(kb), BigInt(na), BigInt(nb))
      val diff = bka * bnb - bkb * bna
      val k = bka + bkb; val n = bna + bnb
      val expect = 100 * diff * diff * n > 384 * bna * bnb * k * (n - k)
      assert(r.getAs[Boolean]("drift") === expect, s"lang=$lang")
    }
  }

  test("multiprobe_topk: pointwise rank-dominance over single-probe LSH") {
    import graft.operators.Similarity
    def byRank(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim"))).toMap
    val sp = byRank(Similarity.lshTopK(spark, dir))
    val mp = byRank(Similarity.multiProbeTopK(spark, dir))
    assert(mp.nonEmpty)
    // multi-probe candidates are a superset (probe set includes the
    // unflipped key), so at every (query, rank) the returned similarity
    // must be at least the single-probe one, and no query returns fewer
    sp.foreach { case (qr, (_, spSim)) =>
      val (_, mpSim) = mp.getOrElse(qr, fail(s"missing $qr in multiprobe"))
      assert(mpSim >= spSim, s"$qr: $mpSim < $spSim")
    }
    val perQ = (m: Map[(Long, Int), _]) =>
      m.keys.groupBy(_._1).view.mapValues(_.size).toMap
    val spc = perQ(sp); val mpc = perQ(mp)
    spc.foreach { case (q, n) => assert(mpc.getOrElse(q, 0) >= n) }
    // and it genuinely widens the candidate pool somewhere
    assert(mp.size >= sp.size)
  }

  test("caption_pairs: CLIP-rule keep flags recomputed from raw docs") {
    import graft.operators.Multimodal
    val rows = Multimodal.captionPairs(spark, dir).collect()
    val docs = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .filter(_.getLong(0) % 3 == 0)
    assert(rows.length === docs.length, "one pair per image")
    val byId = docs.map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val text = byId(r.getAs[Long]("doc_id"))
      val nTok = text.trim.split("\\s+").length
      val bytes = text.getBytes("UTF-8").length
      val (w, h) = (bytes % 640, bytes * 7 % 480)
      assert(r.getAs[Int]("n_caption_tokens") === nTok)
      assert(r.getAs[Int]("width") === w)
      assert(r.getAs[Int]("height") === h)
      assert(r.getAs[Long]("aspect_bp") === w.toLong * 10000 / math.max(h, 1))
      assert(r.getAs[Boolean]("keep") ===
        (nTok >= 5 && nTok <= 77 && math.min(w, h) >= 64))
    }
  }

  test("reshard_stability: HRW moves only to new shards, far less than mod") {
    import graft.operators.Sampling
    import graft.functions.TextFns.hash60Long
    val rows = Sampling.reshardStability(spark, dir).collect()
      .map(r => r.getAs[String]("scheme") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_moved"),
          r.getAs[Long]("moved_bp"), r.getAs[Long]("moved_to_new"))).toMap
    val ids = Tables.documents(spark, dir).select("doc_id")
      .collect().map(_.getLong(0))
    def hrw(id: Long, n: Int) =
      (0 until n).map(s => hash60Long(s"$id:$s") / 16 * 16 + s).max % 16
    val hrwMoved = ids.count(id => hrw(id, 8) != hrw(id, 10)).toLong
    val modMoved = ids.count(id => id % 8 != id % 10).toLong
    val (nH, mH, bpH, newH) = rows("hrw")
    val (nM, mM, _, _) = rows("mod")
    assert(nH === ids.length.toLong && nM === ids.length.toLong)
    assert(mH === hrwMoved)
    assert(mM === modMoved)
    assert(bpH === mH * 10000 / nH)
    // HRW's defining guarantee: every moved doc lands on a NEW shard
    assert(newH === mH)
    ids.foreach { id =>
      val (a, b) = (hrw(id, 8), hrw(id, 10))
      if (a != b) assert(b >= 8, s"doc $id moved to old shard $b")
    }
    // and the movement is minimal-ish vs mod's near-total reshuffle
    assert(mH * 2 < mM, s"hrw moved $mH vs mod $mM")
  }

  test("nprobe_curve: monotone recall and candidate laws") {
    import graft.operators.Similarity
    val rows = Similarity.nprobeCurve(spark, dir)
      .orderBy("nprobe").collect()
    assert(rows.map(_.getAs[Int]("nprobe")).toSeq === Seq(1, 2, 4))
    val nq = rows.head.getAs[Long]("n_queries")
    val nt = rows.head.getAs[Long]("n_truth")
    assert(nq > 0 && nt >= nq, "ground truth covers every query")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_queries") === nq)
      assert(r.getAs[Long]("n_truth") === nt)
      assert(r.getAs[Long]("recall_bp") ===
        r.getAs[Long]("n_hits") * 10000 / nt)
    }
    // widening the probe set can only add hits and candidates
    val hits = rows.map(_.getAs[Long]("n_hits"))
    val cands = rows.map(_.getAs[Long]("avg_candidates"))
    assert(hits.sameElements(hits.sorted), hits.toSeq.toString)
    assert(cands.sameElements(cands.sorted), cands.toSeq.toString)
    assert(hits.last <= nt)
  }

  test("cusum: closed form equals the textbook recursion, day by day") {
    import graft.operators.EventTime
    val rows = EventTime.cusum(spark, dir).orderBy("day").collect()
    assert(rows.nonEmpty)
    val xs = rows.map(_.getAs[Long]("n_events"))
    val k = xs.sum / xs.length
    assert(rows.forall(_.getAs[Long]("k") == k))
    // recursive CUSUM: S_hi = max(0, S_hi + x - k); S_lo = max(0, S_lo + k - x)
    var (hi, lo) = (0L, 0L)
    rows.zip(xs).foreach { case (r, x) =>
      hi = math.max(0L, hi + x - k)
      lo = math.max(0L, lo + k - x)
      assert(r.getAs[Long]("cusum_hi") === hi, s"day ${r.get(0)}")
      assert(r.getAs[Long]("cusum_lo") === lo, s"day ${r.get(0)}")
      assert(r.getAs[Boolean]("alarm_hi") === (hi > k * 5))
      assert(r.getAs[Boolean]("alarm_lo") === (lo > k * 5))
    }
    // totals cover every event exactly once
    assert(xs.sum === Tables.events(spark, dir).count())
  }

  test("pq_distortion: subspace 0 recomputed from quantized raw vectors") {
    import graft.operators.Similarity
    val rows = Similarity.pqDistortion(spark, dir).orderBy("s").collect()
    val emb = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(v => math.floor(v.toDouble * 1000000).toLong),
        r.getInt(2)))
    val nVec = emb.length.toLong
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vectors") === nVec)
      assert(r.getAs[Long]("mean_d2") ===
        r.getAs[Long]("total_d2") / nVec)
      assert(r.getAs[Long]("max_d2") >= r.getAs[Long]("mean_d2"))
    }
    // subspace 0 (dims 0..7): codebook = per-(code, d) floor-mean over
    // label%8 members; per-vector distortion = min over codes
    val subDims = 0 until 8
    val cent = (0 until 8).map { code =>
      val members = emb.filter(e => math.floorMod(e._3, 8) == code)
      code -> subDims.map(d =>
        math.floor(members.map(_._2(d)).sum.toDouble / members.length).toLong)
    }.toMap
    val total0 = emb.map { case (_, q, _) =>
      (0 until 8).map(code =>
        subDims.map(d => { val diff = q(d) - cent(code)(d - 0); diff * diff }).sum).min
    }.sum
    assert(rows.head.getAs[Long]("total_d2") === total0)
  }

  test("neyman_alloc: recomputed moments, budget bound, share laws") {
    import graft.operators.Sampling
    val rows = Sampling.neymanAllocation(spark, dir).collect()
    assert(rows.nonEmpty)

    // independent recomputation of each stratum from the raw documents
    val docs = Tables.documents(spark, dir)
      .select("lang", "n_chars").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val byLang = docs.groupBy(_._1).map { case (l, xs) =>
      val v = xs.map(_._2)
      val n = v.length.toLong
      val s = v.sum
      val q = v.map(x => x * x).sum
      l -> (n, s, math.sqrt((n * q - s * s).toDouble).toLong)
    }
    val totW = byLang.values.map(_._3).sum
    val totN = byLang.values.map(_._1).sum
    rows.foreach { r =>
      val (n, s, w) = byLang(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_docs") === n)
      assert(r.getAs[Long]("mean_chars") === s / n)
      assert(r.getAs[Long]("sd_chars") === w / n)
      assert(r.getAs[Long]("prop_bp") === n * 10000 / totN)
      assert(r.getAs[Long]("neyman_bp") === w * 10000 / totW)
      assert(r.getAs[Long]("alloc_n") === w * 1000 / totW)
    }

    // floor-division shares: within n_langs basis points of a full budget
    val bpSum = rows.map(_.getAs[Long]("neyman_bp")).sum
    assert(bpSum <= 10000 && bpSum > 10000 - rows.length)
    assert(rows.map(_.getAs[Long]("alloc_n")).sum <= 1000)
  }
}
