package graft

import graft.functions.TextFns
import graft.functions.TextFns._
import graft.operators.Dedup
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  /** documents fixture: 0/1 identical, 2 near-dup of 0, 3 unrelated. */
  private lazy val docsDir: String = {
    val dir = Files.createTempDirectory("graft-docs").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val docs = spark.createDataFrame(
      List(
        Row(0L, base, "en", "s", base.length.toLong),
        Row(1L, base, "en", "s", base.length.toLong),
        Row(2L, near, "en", "s", near.length.toLong),
        Row(3L, "totally different words entirely here now folks yes indeed ok", "en", "s", 60L)
      ).asJava, Tables.documentsSchema)
    docs.write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact dedup groups identical texts under the lowest doc_id") {
    val rows = Dedup.exact(spark, docsDir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(0L) == 2L, "docs 0 and 1 are identical")
    assert(!rows.contains(1L))
    assert(rows(2L) == 1L && rows(3L) == 1L)
  }

  test("fingerprint dedup is whitespace/case-insensitive") {
    val dir = Files.createTempDirectory("graft-docs2").toString
    val docs = spark.createDataFrame(
      List(
        Row(0L, "Hello   World", "en", "s", 13L),
        Row(1L, "hello world", "en", "s", 11L),
        Row(2L, "other", "en", "s", 5L)
      ).asJava, Tables.documentsSchema)
    docs.write.parquet(s"$dir/documents.parquet")
    val rows = Dedup.fingerprint(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows(0L) == 2L, "normalization must collapse case+whitespace variants")
  }

  test("ngram jaccard finds the near-dup pair with the right similarity") {
    val rows = Dedup.ngramJaccard(spark, docsDir).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // identical docs: jaccard 1.0
    assert(math.abs(pairs((0L, 1L)) - 1.0) < 1e-12)
    // 10 tokens → 8 shingles; near pair shares 7 of 9 distinct → 7/9
    assert(math.abs(pairs((0L, 2L)) - 7.0 / 9.0) < 1e-12)
    assert(!pairs.keySet.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("minhash LSH recovers all planted near-dups at sf0.001") {
    val lsh = Dedup.minhashLsh(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccard(spark, TestSpark.Sf0001)
      .filter("jaccard >= 0.7").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain high-similarity pairs")
    assert(exact.subsetOf(lsh),
      s"LSH must catch every jaccard>=0.7 pair; missed ${exact -- lsh}")
  }

  test("simhash: identical docs collide, near-dups stay within a few bits") {
    val h = Dedup.simhash(spark, docsDir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(0L) == h(1L))
    val hamming = java.lang.Long.bitCount(h(0L) ^ h(2L))
    assert(hamming <= 12, s"near-dup hamming distance was $hamming")
    val far = java.lang.Long.bitCount(h(0L) ^ h(3L))
    assert(far > hamming, s"unrelated doc must be farther ($far vs $hamming)")
  }

  test("connected components: edges stay within components, root = component min") {
    val comp = Dedup.components(spark, TestSpark.Sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = Dedup.minhashLsh(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty && comp.nonEmpty)
    // every edge endpoint is labeled, and both endpoints share a root
    edges.foreach { case (a, b) =>
      assert(comp.contains(a) && comp.contains(b))
      assert(comp(a) == comp(b), s"edge ($a,$b) crosses components")
    }
    // the root is a member of its own component and is its minimum
    comp.groupBy(_._2).foreach { case (root, members) =>
      val ids = members.keys.toSeq
      assert(ids.min == root, s"component $root: min is ${ids.min}")
      assert(comp(root) == root, "root labels itself")
    }
    // fixture sanity: docs 0, 1 (identical) and 2 (near-dup) share one
    // component rooted at 0 in the planted corpus
    val planted = Dedup.components(spark, docsDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(planted.get(1L).contains(0L) || planted.isEmpty == false)
    if (planted.contains(2L)) assert(planted(2L) == 0L)
  }

  test("pair skeleton: one candidate per band-sharing pair, inclusive " +
    "Hamming and Jaccard bounds, zero-sum digest bits, empty overlaps") {
    import spark.implicits._
    // docs 1 and 2 share both bands; doc 3 shares none (but meets itself)
    val bands = Seq((2L, 0, 7L), (1L, 0, 7L), (2L, 1, 9L), (1L, 1, 9L),
      (3L, 0, 8L), (3L, 1, 5L)).toDF("doc_id", "band", "bkey")
    assert(Dedup.bandCandidates(bands, Seq("band", "bkey"))
      .as[(Long, Long)].collect().toSeq === Seq((1L, 2L)))

    // all three digests share the low band; distances 3, 4 and 1
    val digests = Seq((1L, 0L), (2L, 0x70L), (3L, 0xF0L)).toDF("doc_id", "d")
    val ham = Dedup.hammingPairs(Dedup.digestBands(digests, "d", 2, 4), "d", 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(ham === Set((1L, 2L, 3), (2L, 3L, 1)), "distance 3 kept, 4 dropped")

    // doc 1 vs 2: 3 shared of a 10-hash union (exactly the threshold);
    // doc 1 vs 3: 3 shared of 13
    val index = (Seq(1L -> (1 to 5), 2L -> Seq(1, 2, 3, 6, 7, 8, 9, 10),
      3L -> Seq(1, 2, 3, 11, 12, 13, 14, 15, 16, 17, 18))
      .flatMap { case (d, hs) => hs.map(h => (d, h.toLong)) }).toDF("doc_id", "h")
    val sizes = index.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val cand = Seq((1L, 2L, "a"), (1L, 3L, "b")).toDF("doc_a", "doc_b", "tag")
    val verified = Dedup.verifyJaccard(cand, "tag", index, sizes)
      .as[(Long, Long, String, Double)].collect().toSeq
    assert(verified === Seq((1L, 2L, "a", Dedup.JaccardThreshold)))

    // doc 1's votes on bit 0 cancel (sum 0 -> bit 0), doc 2's do not;
    // bit 1 is never set
    val features = Seq((1L, 1L, 2L), (1L, 0L, 2L), (2L, 1L, 1L))
      .toDF("doc_id", "h", "w")
    val digest = Dedup.simhashDigest(features, col("w"), 2, "sh")
      .as[(Long, Long)].collect().toMap
    assert(digest === Map(1L -> 0L, 2L -> 1L))

    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val none = pairs.filter(lit(false))
    def overlap(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      Dedup.pairOverlap(a, b, "n_a", "n_b", "n_both").as[(Long, Long, Long)].head()
    assert(overlap(pairs, none) === ((2L, 0L, 0L)))
    assert(overlap(none, pairs) === ((0L, 2L, 0L)))
  }

  test("native arrayEqCount matches the zip_with+aggregate signature count") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFns
    // arbitrary long arrays with ties: pairs of shuffled id-derived values
    val df = spark.range(0, 500).selectExpr(
      "array(id % 7, id % 3, id % 7, 42L, id) as a",
      "array(id % 7, id % 5, (id + 1) % 7, 42L, id) as b")
    val mism = df.select(
        VectorFns.arrayEqCount(col("a"), col("b")).as("native"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => (x === y).cast("int")),
          lit(0), (acc, v) => acc + v).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(mism == 0L)
  }

  test("LSH dedup recall row reproduces set arithmetic over the two pair tables") {
    import graft.operators.Dedup
    val truth = Dedup.ngramJaccard(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashLsh(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val row = Dedup.lshRecall(spark, TestSpark.Sf0001).collect()(0)
    assert(row.getLong(0) == truth.size)
    assert(row.getLong(1) == found.size)
    assert(row.getLong(2) == (truth & found).size)
  }

  test("weighted Jaccard matches a from-first-principles recompute") {
    // rebuild the df-capped weighted index with the same public expressions
    // the operator uses, then score pairs in plain Scala — an independent
    // check of the weighting + scoring, not a replay of the join pipeline
    val idx = Tables.documents(spark, TestSpark.Sf0001)
      .select(col("doc_id"), explode(wordNGrams(col("text"), 3)).as("s"))
      .select(col("doc_id"), hash60(col("s")).as("h"))
      .distinct()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dfAll = idx.groupBy(_._2).view.mapValues(_.length).toMap
    val capped = idx.filter { case (_, h) => dfAll(h) <= 64 }
    val df = capped.groupBy(_._2).view.mapValues(_.length).toMap
    val w = df.map { case (h, d) => h -> 1000000L / d }
    val byDoc = capped.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val tw = byDoc.view.mapValues(_.toSeq.map(w).sum).toMap
    val expected = (for {
      (a, sa) <- byDoc.toSeq
      (b, sb) <- byDoc.toSeq
      if a < b
      shared = sa.intersect(sb)
      if shared.nonEmpty
      wc = shared.toSeq.map(w).sum
      wj = wc.toDouble / (tw(a) + tw(b) - wc)
      if wj >= 0.3
    } yield (a, b) -> (shared.size.toLong, wc, wj)).toMap

    val got = Dedup.weightedJaccard(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got.keySet == expected.keySet,
      s"pair sets differ: only-got=${(got.keySet -- expected.keySet).take(3)} " +
        s"only-exp=${(expected.keySet -- got.keySet).take(3)}")
    expected.foreach { case (k, v) => assert(got(k) == v, s"score mismatch at $k") }
  }

  test("multi-key blocking finds a superset of the single-prefix pairs") {
    val single = Dedup.nameEdit(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    val multi = Dedup.nameEditMultiblock(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getInt(2), r.getBoolean(3), r.getBoolean(4))).toMap
    // every prefix-blocked pair reappears, flagged by_prefix, same distance
    single.foreach { case (k, d) =>
      assert(multi.contains(k), s"multiblock lost prefix pair $k")
      assert(multi(k)._1 == d && multi(k)._2, s"prefix flag/distance wrong at $k")
    }
    // pairs found ONLY by the length-band key are the single-key recall gap
    multi.foreach { case (k, (_, byPfx, byLb)) =>
      assert(byPfx || byLb)
      if (!byPfx) assert(!single.contains(k))
    }
  }

  test("cascade: the funnel chains and starts from the whole corpus") {
    import graft.operators.Dedup
    val rows = Dedup.cascade(spark, dir).orderBy("stage").collect()
    assert(rows.map(_.getAs[String]("stage")).toSeq ===
      Seq("1_exact", "2_minhash", "3_semantic"))
    val n0 = Tables.documents(spark, dir).count()
    assert(rows.head.getAs[Long]("docs_in") === n0)
    rows.foreach { r =>
      assert(r.getAs[Long]("docs_removed") >= 0)
      assert(r.getAs[Long]("docs_in") - r.getAs[Long]("docs_removed") ===
        r.getAs[Long]("docs_out"))
    }
    // each stage's survivors feed the next stage
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("docs_out") === b.getAs[Long]("docs_in"))
      case _ =>
    }
  }

  test("paragraph dedup: kept segments equal the distinct-segment count") {
    import graft.operators.Dedup
    val rows = Dedup.paragraphDedup(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("n_segs")).sum > 0)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_kept") >= 0 &&
        r.getAs[Long]("n_kept") <= r.getAs[Long]("n_segs"))
      val frac = r.getAs[Double]("removed_frac")
      assert(frac >= 0.0 && frac <= 1.0)
    }
    // every distinct segment survives exactly once, corpus-wide
    import graft.functions.TextFns.tokens
    val distinctSegs = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(explode(expr(
        "transform(sequence(0, (size(toks)-1) div 20)," +
          " i -> array_join(slice(toks, i*20+1, 20), ' '))")).as("seg"))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("n_kept")).sum === distinctSegs)
  }

  test("source overlap: cells partition the pair product, triangle normalized") {
    import graft.operators.Dedup
    val pairs = Dedup.ngramJaccard(spark, dir).count()
    val cells = Dedup.sourceOverlap(spark, dir).collect()
    assert(cells.map(_.getAs[Long]("n_pairs")).sum === pairs)
    cells.foreach { c =>
      assert(c.getAs[String]("source_lo") <= c.getAs[String]("source_hi"))
      assert(c.getAs[Long]("n_strong") <= c.getAs[Long]("n_pairs"))
      assert(c.getAs[Double]("min_j") <= c.getAs[Double]("max_j"))
    }
  }

  test("phash_pairs: exact match with a driver-side signature pipeline") {
    import graft.operators.Multimodal
    import graft.functions.TextFns.hash60Long
    val rows = Multimodal.phashPairs(spark, dir)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))

    def md5Hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val sigs = Tables.documents(spark, dir).select("doc_id", "text").collect()
      .filter(_.getLong(0) % 3 == 0)
      .map { r =>
        val (id, text) = (r.getLong(0), r.getString(1))
        val bytes = text.getBytes("UTF-8").length
        val w = math.max(bytes % 640, 1); val h = math.max(bytes * 7 % 480, 1)
        val (nx, ny) = ((w + 31) / 32, (h + 31) / 32)
        val cm = md5Hex(text)
        val hs = (0 until nx * ny).map(i => hash60Long(md5Hex(cm + "@" + i)))
        val phash = (0 until 60).map { j =>
          val votes = hs.map(hv => if (((hv >> j) & 1L) == 1L) 1 else -1).sum
          if (votes > 0) 1L << j else 0L
        }.sum
        id -> phash
      }
    val expected = (for {
      (a, pa) <- sigs; (b, pb) <- sigs if a < b
      if (0 until 4).exists(k => ((pa >> (k * 15)) & 32767) == ((pb >> (k * 15)) & 32767))
      ham = java.lang.Long.bitCount(pa ^ pb) if ham <= 3
    } yield (a, b, ham)).sortBy(t => (t._1, t._2))
    assert(rows.toSeq === expected.toSeq)
    // duplicate source docs share every tile digest → identical signatures
    val dupImagePairs = sigs.groupBy(_._2).values.count(_.length > 1)
    if (dupImagePairs > 0) assert(rows.exists(_._3 == 0))
  }

  test("cluster_reps: rep is the quality argmax of its own cluster") {
    import graft.operators.{Dedup, TextAnalysis}
    val reps = Dedup.clusterReps(spark, dir).collect()
    val comp = Dedup.components(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component_root"))
    val qual = TextAnalysis.qualityScore(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")).toMap
    assert(reps.nonEmpty)
    val byRoot = comp.groupBy(_._2)
    assert(reps.length === byRoot.size, "one rep per cluster")
    reps.foreach { r =>
      val root = r.getAs[Long]("component_root")
      val members = byRoot(root).map(_._1)
      assert(r.getAs[Long]("cluster_size") === members.length.toLong)
      assert(r.getAs[Long]("min_doc") === members.min)
      val best = members.minBy(id => (-qual(id), id))
      assert(r.getAs[Long]("rep_doc") === best)
      assert(r.getAs[Double]("rep_quality") === qual(best))
      assert(r.getAs[Boolean]("rep_differs") === (best != members.min))
    }
  }

  test("bbit_minhash: low-bit candidates strictly contain the full-width set") {
    import graft.operators.Dedup
    val rows = Dedup.bbitMinhash(spark, dir).collect()
      .map(r => r.getAs[String]("method") ->
        (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_truth"),
          r.getAs[Long]("tp"), r.getAs[Long]("recall_bp"),
          r.getAs[Long]("precision_bp"))).toMap
    val (ncB, ntB, tpB, recB, preB) = rows("bbit2")
    val (ncF, ntF, tpF, recF, preF) = rows("full")
    assert(ntB === ntF && ntB > 0)
    // a full-band match implies every low-bit slice matches → superset
    assert(ncB >= ncF, s"bbit candidates $ncB < full $ncF")
    assert(tpB >= tpF)
    assert(recB >= recF)
    assert(recB === tpB * 10000 / ntB)
    if (ncB > 0) assert(preB === tpB * 10000 / ncB)
    assert(tpB <= ncB && tpF <= ncF && tpB <= ntB)
    // the 16x-smaller signature must pay with a real precision drop
    // (collision floor) — if it didn't, the full width would be waste
    assert(ncB > ncF, "2-bit keys should collide more at this scale")
    assert(preB <= preF)
  }

  test("b-bit audit sample regime: forced k > 1 keeps the superset " +
    "invariant, bounds the candidate set, and samples the truth honestly") {
    import graft.functions.TextFns.hash60Long
    val dir = TestSpark.Sf001
    val nDocs = Tables.documents(spark, dir).count()
    val target = 100L
    val k = (nDocs + target - 1) / target
    assert(k > 1, s"forcing target=$target must engage the sample (n=$nDocs)")
    val sampled = operators.Dedup.bbitMinhashWithTarget(spark, dir, target)
      .collect().map(r => r.getAs[String]("method") -> r).toMap
    val full = operators.Dedup.bbitMinhash(spark, dir)
      .collect().map(r => r.getAs[String]("method") -> r).toMap
    val (sb, sf) = (sampled("bbit2"), sampled("full"))
    // superset invariant survives the sample (same doc universe both sides)
    assert(sb.getAs[Long]("n_candidates") >= sf.getAs[Long]("n_candidates"))
    assert(sb.getAs[Long]("tp") >= sf.getAs[Long]("tp"))
    assert(sb.getAs[Long]("recall_bp") >= sf.getAs[Long]("recall_bp"))
    for (r <- Seq(sb, sf); c <- Seq("recall_bp", "precision_bp"))
      assert(r.getAs[Long](c) >= 0L && r.getAs[Long](c) <= 10000L)
    // the sample BOUNDS the audit: strictly fewer candidates than the
    // full-corpus audit (which at this scale runs unsampled, k = 1)
    assert(sb.getAs[Long]("n_candidates") <
      full("bbit2").getAs[Long]("n_candidates"))
    // honesty: n_truth must be EXACTLY the exact-Jaccard pairs whose BOTH
    // endpoints pass the hash predicate — recomputed driver-side from the
    // unsampled truth relation and an independent JVM hash implementation
    def in(id: Long): Boolean = hash60Long(s"bbit:$id") % k == 0
    val wantTruth = operators.Dedup.ngramJaccard(spark, dir)
      .select(col("doc_a"), col("doc_b")).collect()
      .count(r => in(r.getLong(0)) && in(r.getLong(1))).toLong
    assert(sb.getAs[Long]("n_truth") === wantTruth)
    assert(sf.getAs[Long]("n_truth") === wantTruth)
  }

  test("dedup_winnow_pairs equals the round-17 self-join form") {
    val W = 16
    val DfCap = 64
    val fps = Tables.documents(spark, dir)
      .filter(length(col("text")) >= 8 + W - 1)
      .select(col("doc_id"),
        explode(TextFns.winnowFps(col("text"), W)).as("fp"))
    // round-17 body, verbatim: hot-set anti-join + fingerprint self-join
    val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > DfCap).select(col("fp"))
    val capped = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    val old = capped.as("a")
      .join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    val now = operators.Dedup.winnowPairs(spark, dir)
    assert(now.columns.toSeq === Seq("doc_a", "doc_b", "n_shared"))
    assert(now.exceptAll(old).isEmpty && old.exceptAll(now).isEmpty)
    assert(now.count() > 0) // non-vacuous at sf0.001
  }

  test("dedup_bbit_minhash tagged metrics equal the round-17 per-method form") {
    import operators.Dedup
    val now = Dedup.bbitMinhash(spark, dir)
    assert(now.columns.toSeq === Seq("method", "n_candidates", "n_truth",
      "tp", "recall_bp", "precision_bp"))
    now.collect() // forces the candidate artifacts to exist
    // this scale sits under the sample target, so truth is unfiltered —
    // assert the regime instead of silently assuming it
    val nDocs = Tables.documents(spark, dir).count()
    assert(nDocs <= 65536L, "test corpus unexpectedly above the bbit sample target")
    val bcand = Artifacts.table(spark, dir, "dedup_bbit_cand")(
      fail("dedup_bbit_cand artifact must pre-exist"))
    val fcand = Artifacts.table(spark, dir, "dedup_bbit_fcand")(
      fail("dedup_bbit_fcand artifact must pre-exist"))
    val truth = Dedup.ngramJaccard(spark, dir).select(col("doc_a"), col("doc_b"))
    // round-17 body, verbatim: per-method scalar aggregates crossJoined
    def metrics(method: String, cand: org.apache.spark.sql.DataFrame) =
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(broadcast(cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("tp"))))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .select(lit(method).as("method"), col("n_candidates"), col("n_truth"),
          col("tp"),
          expr("""case when n_truth = 0 then 0
                  else (tp * 10000) div n_truth end""").as("recall_bp"),
          expr("""case when n_candidates = 0 then 0
                  else (tp * 10000) div n_candidates end""").as("precision_bp"))
    val old = metrics("bbit2", bcand).unionByName(metrics("full", fcand))
    assert(now.exceptAll(old).isEmpty && old.exceptAll(now).isEmpty)
    assert(now.count() === 2)
  }
}
