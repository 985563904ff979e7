package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 continuation: watermark lateness profile, epoch shuffle,
  * CCNet perplexity terciles, Matryoshka truncation, and
  * the z-order skipping audit. Each test asserts the operator's defining
  * law against an independent recomputation, not just shape.
  */
class Round9cSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  test("lateness_profile: ordered percentiles, counts bounded by totals") {
    import graft.operators.EventTime
    val rows = EventTime.latenessProfile(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_events")
      val late = r.getAs[Long]("n_late")
      assert(late >= 0 && late <= n)
      val frac = r.getAs[Double]("late_frac")
      assert(frac >= 0.0 && frac <= 1.0)
      if (late > 0) {
        val p50 = r.getAs[Double]("p50_late_us")
        val p99 = r.getAs[Double]("p99_late_us")
        val mx = r.getAs[Long]("max_late_us")
        assert(p50 > 0 && p50 <= p99 && p99 <= mx.toDouble,
          s"${r.getAs[String]("event_type")}: p50=$p50 p99=$p99 max=$mx")
      }
    }
    // totals must cover the whole events table exactly once
    val total = Tables.events(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum === total)
  }

  test("epoch_shuffle: partition of the corpus, decorrelated across epochs") {
    import graft.operators.Sampling
    val rows = Sampling.epochShuffle(spark, dir).collect()
    val nDocs = Tables.documents(spark, dir).count()
    for (epoch <- Seq(0, 1)) {
      val er = rows.filter(_.getAs[Int]("epoch") == epoch)
      assert(er.map(_.getAs[Long]("n_docs")).sum === nDocs,
        s"epoch $epoch shards must partition the corpus")
      er.foreach { r =>
        assert(r.getAs[Long]("n_stay_next") <= r.getAs[Long]("n_docs"))
        assert(r.getAs[Long]("first_doc") >= 0 && r.getAs[Long]("last_doc") >= 0)
      }
      // re-permutation: docs staying in the same shard next epoch should be
      // near 1/8, certainly nowhere near all of them
      val stay = er.map(_.getAs[Long]("n_stay_next")).sum
      assert(stay < nDocs / 2, s"epoch $epoch: $stay of $nDocs stayed put")
    }
    // the shuffle head is the argmin of the epoch-seeded hash — recompute
    // one shard's first_doc driver-side from raw doc_ids
    import graft.functions.TextFns.hash60Long
    val ids = Tables.documents(spark, dir).select("doc_id")
      .collect().map(_.getLong(0))
    val shard0 = ids.filter(id => math.floorMod(hash60Long(s"epoch:0:$id"), 8L) == 0L)
    val expectFirst = shard0.minBy(id => (hash60Long(s"epoch:0:$id"), id))
    val got = rows.find(r => r.getAs[Int]("epoch") == 0 && r.getAs[Long]("shard") == 0L)
    assert(got.get.getAs[Long]("first_doc") === expectFirst)
  }

  test("perplexity_buckets: per-lang terciles balanced and exhaustive") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.perplexityBuckets(spark, dir).collect()
    val perLang = rows.groupBy(_.getAs[String]("lang"))
    val docsPerLang = Tables.documents(spark, dir).groupBy("lang").count()
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    perLang.foreach { case (lang, rs) =>
      assert(rs.map(_.getAs[String]("bucket")).toSet ===
        Set("head", "middle", "tail"))
      assert(rs.map(_.getAs[Long]("n_docs")).sum === docsPerLang(lang))
      val sizes = rs.map(_.getAs[Long]("n_docs"))
      assert(sizes.max - sizes.min <= 1, s"$lang terciles must differ by <=1")
      // ranking is score-desc: every head score >= every middle score >=
      // every tail score
      def b(name: String) = rs.find(_.getAs[String]("bucket") == name).get
      assert(b("head").getAs[Long]("min_score_bp") >=
        b("middle").getAs[Long]("max_score_bp"))
      assert(b("middle").getAs[Long]("min_score_bp") >=
        b("tail").getAs[Long]("max_score_bp"))
      rs.foreach { r =>
        val avg = r.getAs[Long]("avg_score_bp")
        assert(avg >= r.getAs[Long]("min_score_bp") &&
          avg <= r.getAs[Long]("max_score_bp"))
      }
    }
  }

  test("dim truncation: full-width slice is exact (recall 1.0), curve bounded") {
    import graft.operators.Similarity
    val rows = Similarity.dimTruncation(spark, dir).collect()
    assert(rows.length === 40)
    rows.filter(_.getAs[Int]("dim") == 64).foreach { r =>
      assert(r.getAs[Double]("recall_at_k") === 1.0,
        s"d=64 IS the full dimension; query ${r.getAs[Long]("query_id")}")
    }
    rows.foreach { r =>
      val rec = r.getAs[Double]("recall_at_k")
      assert(rec >= 0.0 && rec <= 1.0)
      assert(r.getAs[Long]("hits") === math.round(rec * 10))
    }
  }

  test("asof tolerance: stale matches nulled, fresh matches preserved") {
    import graft.operators.Windows
    val base = Windows.asofJoin(spark, dir).collect()
      .map(r => r.getAs[Long]("purchase_id") ->
        (if (r.isNullAt(r.fieldIndex("gap_us"))) None
         else Some(r.getAs[Long]("gap_us")))).toMap
    val tol = Windows.asofTolerance(spark, dir).collect()
    assert(tol.length === base.size)
    val T = 86400000000L
    tol.foreach { r =>
      val gap = base(r.getAs[Long]("purchase_id"))
      val within = r.getAs[Boolean]("within_tolerance")
      assert(within === gap.exists(_ <= T))
      assert(r.isNullAt(r.fieldIndex("asof_click_id")) === !within,
        s"purchase ${r.getAs[Long]("purchase_id")}")
    }
    // the TTL rule must actually fire both ways on this data
    assert(tol.exists(_.getAs[Boolean]("within_tolerance")))
    assert(tol.exists(r => !r.getAs[Boolean]("within_tolerance")))
  }

  test("filter agreement: kappa from a consistent confusion matrix") {
    import graft.operators.TextAnalysis
    val r = TextAnalysis.filterAgreement(spark, dir).collect()(0)
    val n = r.getAs[Long]("n_docs")
    val (bk, bd, oq, ol) = (r.getAs[Long]("n_both_keep"),
      r.getAs[Long]("n_both_drop"), r.getAs[Long]("n_only_quality"),
      r.getAs[Long]("n_only_lm"))
    assert(bk + bd + oq + ol === n, "confusion matrix must partition docs")
    assert(n === Tables.documents(spark, dir).count())
    val po = r.getAs[Double]("po")
    assert(po === (bk + bd).toDouble / n)
    val kappa = r.getAs[Double]("kappa")
    assert(kappa >= -1.0 && kappa <= 1.0)
    // the detectors measure different things: not identical, not inverse
    assert(oq + ol > 0, "filters should disagree somewhere")
    assert(bk + bd > 0, "filters should agree somewhere")
  }

  test("gopher rules: flags re-derivable from counts, pass is the conjunction") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.gopherRules(spark, dir).collect()
    assert(rows.length === Tables.documents(spark, dir).count())
    rows.foreach { r =>
      val n = r.getAs[Int]("n_words")
      val chars = r.getAs[Int]("n_tok_chars")
      val short = r.getAs[Int]("n_short")
      val stop = r.getAs[Int]("n_stop")
      val dom = r.getAs[Int]("max_tok_count")
      assert(short <= n && stop <= n && dom <= n && chars >= n)
      assert(r.getAs[Boolean]("r_word_count") === (n >= 50 && n <= 100000))
      assert(r.getAs[Boolean]("r_mean_len") === (chars >= 3 * n && chars <= 10 * n))
      assert(r.getAs[Boolean]("r_short_frac") === (short * 5 < n))
      assert(r.getAs[Boolean]("r_stopwords") === (stop >= 2))
      assert(r.getAs[Boolean]("r_dominance") === (dom * 5 <= n))
      assert(r.getAs[Boolean]("gopher_pass") ===
        (r.getAs[Boolean]("r_word_count") && r.getAs[Boolean]("r_mean_len") &&
          r.getAs[Boolean]("r_short_frac") && r.getAs[Boolean]("r_stopwords") &&
          r.getAs[Boolean]("r_dominance")))
    }
    // the filter must actually split this corpus, both ways
    assert(rows.exists(_.getAs[Boolean]("gopher_pass")))
    assert(rows.exists(r => !r.getAs[Boolean]("gopher_pass")))
  }

  test("hard negatives: each side is the argmax over its label class") {
    import graft.operators.Similarity
    val vecs = Tables.embeddings(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val rows = Similarity.hardNegatives(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val qid = r.getAs[Long]("query_id")
      val (_, qLabel, qv) = vecs.find(_._1 == qid).get
      assert(r.getAs[Int]("label") === qLabel)
      def best(pos: Boolean): Option[(Long, Double)] =
        vecs.filter(v => v._1 != qid && (v._2 == qLabel) == pos)
          .map(v => (v._1, cos(qv, v._3)))
          .sortBy { case (id, c) => (-c, id) }.headOption
      (best(true), r.isNullAt(r.fieldIndex("pos_id"))) match {
        case (Some((id, c)), false) =>
          assert(r.getAs[Long]("pos_id") === id)
          assert(math.abs(r.getAs[Double]("pos_cos") - c) < 1e-12)
        case (None, true) => // no positive exists: NULL is correct
        case other => fail(s"query $qid positive mismatch: $other")
      }
      val (nid, nc) = best(false).get
      assert(r.getAs[Long]("neg_id") === nid)
      assert(math.abs(r.getAs[Double]("neg_cos") - nc) < 1e-12)
      if (!r.isNullAt(r.fieldIndex("margin")))
        assert(r.getAs[Double]("margin") ===
          r.getAs[Double]("pos_cos") - r.getAs[Double]("neg_cos"))
    }
  }

  test("temperature weights: alpha=1/2 compresses shares toward uniform") {
    import graft.operators.Sampling
    val rows = Sampling.temperatureWeights(spark, dir).collect()
    assert(rows.length >= 2)
    val shares = rows.map(r => r.getAs[Long]("share_bp"))
    val temps = rows.map(r => r.getAs[Long]("temp_bp"))
    // weights are a (floor-division) probability vector
    assert(shares.sum <= 10000 && shares.sum > 10000 - rows.length)
    assert(temps.sum <= 10000 && temps.sum > 10000 - rows.length)
    // sqrt-compression: the spread of the tempered mix is strictly smaller
    assert(temps.max - temps.min < shares.max - shares.min)
    // the boost crossover sits at mass (Σm/Σ√m)², strictly between the
    // extremes when masses differ: smallest share boosted, largest damped,
    // and boost is anti-monotone in share
    val byShare = rows.sortBy(_.getAs[Long]("share_bp"))
    assert(byShare.head.getAs[Long]("boost_bp") > 10000)
    assert(byShare.last.getAs[Long]("boost_bp") < 10000)
    assert(byShare.head.getAs[Long]("boost_bp") >
      byShare.last.getAs[Long]("boost_bp"))
  }

  test("bot flags: integer-moment CV decision matches a replayed gap stream") {
    import graft.operators.EventTime
    val gaps = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .collect()
      .groupBy(_.getAs[Long]("user_id"))
      .map { case (u, rs) =>
        val ts = rs.map(r => (r.getAs[Long]("us"), r.getAs[Long]("event_id")))
          .sortBy(identity).map(_._1)
        u -> ts.sliding(2).map(p => (p(1) - p(0)) / 60000000L).toArray
      }
    val rows = EventTime.botFlags(spark, dir).collect()
    assert(rows.nonEmpty)
    val qualifying = gaps.count { case (_, g) => g.length >= 20 && g.sum > 0 }
    assert(rows.length === qualifying)
    rows.foreach { r =>
      val g = gaps(r.getAs[Long]("user_id"))
      val n = g.length.toLong
      val s = g.sum
      val q = g.map(x => x * x).sum
      assert(r.getAs[Long]("n_gaps") === n)
      assert(r.getAs[Long]("total_gap_min") === s)
      assert(r.getAs[Boolean]("flag_regular") === (n * q - s * s < s * s))
      assert(r.getAs[Boolean]("flag_rapid") === (s < n * 720))
      assert(r.getAs[Long]("cv2_bp") === (n * q - s * s) * 10000 / (s * s))
    }
  }

  test("knn classifier: every classified vector counted once, vote law holds") {
    import graft.operators.Similarity
    val cells = Similarity.knnClassifier(spark, dir).collect()
    // every vector with at least one graph neighbor is classified exactly once
    val classified = Similarity.knnGraph(spark, dir)
      .select("vec_id").distinct().count()
    assert(cells.map(_.getAs[Long]("n_vectors")).sum === classified)
    // replay the vote for a sample of vectors
    val lbl = Tables.embeddings(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val byVec = Similarity.knnGraph(spark, dir).collect()
      .groupBy(_.getAs[Long]("vec_id"))
    val predByCell = cells.map(c => (c.getAs[Int]("actual_label"),
      c.getAs[Int]("predicted_label"))).toSet
    byVec.take(50).foreach { case (v, edges) =>
      val votes = edges.map(e => lbl(e.getAs[Long]("neighbor_id")))
        .groupBy(identity).map { case (l, vs) => (l, vs.length) }
      val winner = votes.toSeq.sortBy { case (l, n) => (-n, l) }.head._1
      assert(predByCell.contains((lbl(v), winner)),
        s"vec $v: expected cell (${lbl(v)}, $winner)")
    }
  }

  test("label outliers: k lowest centroid-cosines per label, exact moments") {
    import graft.operators.Similarity
    val rows = Similarity.labelOutliers(spark, dir).collect()
    assert(rows.nonEmpty)
    val byLabel = rows.groupBy(_.getAs[Int]("label"))
    byLabel.foreach { case (_, rs) =>
      assert(rs.length <= 10)
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq === (1 to rs.length))
      // ranks ordered by ascending atypicality
      val sorted = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_centroid"))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b })
    }
    // independent replay in quantized-integer arithmetic: the emitted
    // rank-1 vector must be the true argmin of cos-to-centroid
    val vecs = Tables.embeddings(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[scala.collection.Seq[Float]]("embedding")
          .map(x => math.floor(x.toDouble * 1000000).toLong).toArray))
    vecs.groupBy(_._2).foreach { case (label, members) =>
      val dims = members.head._3.length
      val cq = Array.tabulate(dims) { d =>
        math.floor(members.map(_._3(d)).sum.toDouble / members.length).toLong
      }
      val ncy = cq.map(c => c * c).sum
      val best = members.map { case (id, _, q) =>
        val dotq = q.zip(cq).map { case (a, b) => a * b }.sum
        val nx = q.map(a => a * a).sum
        (id, dotq.toDouble / (math.sqrt(nx.toDouble) * math.sqrt(ncy.toDouble)))
      }.sortBy { case (id, c) => (c, id) }.head
      val got = byLabel(label).minBy(_.getAs[Int]("rank"))
      assert(got.getAs[Long]("vec_id") === best._1, s"label $label")
      assert(math.abs(got.getAs[Double]("cos_centroid") - best._2) < 1e-12)
    }
  }

  test("ab test: arms partition users, chi-square decision replays in BigInt") {
    import graft.operators.EventTime
    val r = EventTime.abTest(spark, dir).collect()(0)
    val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
    val (ka, kb) = (r.getAs[Long]("conv_a"), r.getAs[Long]("conv_b"))
    val users = Tables.events(spark, dir).select("user_id").distinct().count()
    assert(na + nb === users)
    assert(ka <= na && kb <= nb && na > 0 && nb > 0)
    assert(r.getAs[Long]("cr_a_bp") === ka * 10000 / na)
    assert(r.getAs[Long]("lift_bp") === kb * 10000 / nb - ka * 10000 / na)
    // both arms and both outcomes must occur for the test to mean anything
    assert(ka > 0 && kb > 0 && (ka < na || kb < nb))
    val (bna, bnb, bka, bkb) = (BigInt(na), BigInt(nb), BigInt(ka), BigInt(kb))
    val lhs = 100 * (bka * bnb - bkb * bna).pow(2) * (bna + bnb)
    val rhs = 384 * bna * bnb * (bka + bkb) * (bna + bnb - bka - bkb)
    assert(r.getAs[Boolean]("significant") === (lhs > rhs))
  }

  test("kanonymity: equivalence classes partition the population") {
    import graft.operators.Relational
    val rows = Relational.kAnonymity(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_rows")).sum ===
      Tables.customer(spark, dir).count())
    rows.foreach { r =>
      assert(r.getAs[Boolean]("is_anonymous") === (r.getAs[Long]("n_rows") >= 5))
    }
    // quasi-identifier tuples are unique rows of the audit
    val keys = rows.map(r => (r.getAs[String]("n_name"),
      r.getAs[String]("c_mktsegment"), r.getAs[Long]("bal_band")))
    assert(keys.distinct.length === keys.length)
  }

  test("semdedup: rim-first ranking, verdict consistent with prior-max") {
    import graft.operators.Similarity
    val rows = Similarity.semDedup(spark, dir).collect()
    assert(rows.length === Tables.embeddings(spark, dir).count())
    val perList = rows.groupBy(_.getAs[Int]("list_id"))
    perList.foreach { case (list, rs) =>
      // ranks are 1..n within the list
      assert(rs.map(_.getAs[Int]("rn")).sorted.toSeq === (1 to rs.length))
      // the top-ranked (farthest-from-centroid) vector has no prior: kept
      val first = rs.find(_.getAs[Int]("rn") == 1).get
      assert(first.isNullAt(first.fieldIndex("max_prior_cos")))
      assert(first.getAs[Boolean]("keep"), s"list $list rank-1 must survive")
    }
    rows.foreach { r =>
      val keep = r.getAs[Boolean]("keep")
      if (r.isNullAt(r.fieldIndex("max_prior_cos"))) assert(keep)
      else assert(keep === (r.getAs[Double]("max_prior_cos") < 0.35))
    }
    // the policy must actually fire both ways on this corpus
    assert(rows.exists(!_.getAs[Boolean]("keep")), "no duplicates removed")
    assert(rows.count(_.getAs[Boolean]("keep")) > rows.length / 2,
      "most of the corpus should survive at tau=0.35")
  }

  test("zorder skipping: rectangles prune the b-probe; linear cannot") {
    import graft.operators.Relational
    val rows = Relational.zorderSkipping(spark, dir).collect()
    val (zb, lin) = rows.partition(_.getAs[String]("layout") == "zorder")
    assert(zb.nonEmpty && lin.nonEmpty)
    val nOrders = Tables.orders(spark, dir).count()
    assert(zb.map(_.getAs[Long]("n_rows")).sum === nOrders)
    assert(lin.map(_.getAs[Long]("n_rows")).sum === nOrders)
    rows.foreach { r =>
      assert(r.getAs[Long]("a_lo") <= r.getAs[Long]("a_hi"))
      assert(r.getAs[Long]("b_lo") <= r.getAs[Long]("b_hi"))
    }
    // linear buckets span (nearly) b's full width -> the b probe scans most
    // of the table; z-order rectangles skip the bulk of it. (At sf0.001 a
    // ~6-row linear bucket can coincidentally miss the band, so the law is
    // proportional, not forall.)
    def scannedB(rs: Array[org.apache.spark.sql.Row]) =
      rs.filter(_.getAs[Boolean]("scan_b")).map(_.getAs[Long]("n_rows")).sum
    assert(scannedB(lin) > (nOrders * 4) / 5,
      s"linear should scan most rows for the b probe: ${scannedB(lin)}/$nOrders")
    assert(scannedB(zb) * 2 < scannedB(lin),
      s"zorder scanned ${scannedB(zb)} of $nOrders; linear ${scannedB(lin)}")
  }
}
