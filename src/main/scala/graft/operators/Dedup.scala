package graft.operators

import graft.{Artifacts, Q, Tables}
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication operators for a training-data pipeline: exact
  * (hash groupBy), fingerprint (MD5 of normalized text), n-gram Jaccard via
  * an inverted shingle index, MinHash + LSH banding, and SimHash.
  *
  * Scale posture (100 TB): nothing here compares documents pairwise across
  * the corpus. Exact/fingerprint dedup shuffles a 128-bit digest, not the
  * text. Jaccard candidates come from an inverted-index equi-join on
  * shingles (only docs sharing a shingle ever meet); MinHash reduces each
  * doc to a 32-long signature and LSH banding turns near-dup search into an
  * equi-join on band keys. All hashes are MD5-derived ([[hash60]]) so the
  * DuckDB oracle reproduces them bit-for-bit.
  */
object Dedup {

  private val NumPerms = 32
  private val NumBands = 8 // 4 rows per band
  private val RowsPerBand = NumPerms / NumBands
  private val JaccardThreshold = 0.3

  /** MinHash permutations are affine maps h_i(x) = (a_i·x + b_i) mod P over
    * a single MD5-derived base hash — one MD5 per shingle instead of
    * [[NumPerms]], with constants small enough that a_i·x never overflows a
    * 64-bit long (x < P = 2³¹−1, a_i < P ⇒ product < 2⁶²). */
  private val MersenneP = 2147483647L // 2^31 - 1
  private def permA(i: Int): Long = ((i + 1) * 0x9E3779B9L) % (MersenneP - 1) + 1
  private def permB(i: Int): Long = ((i + 1) * 0x85EBCA6BL) % MersenneP

  /** Exact dedup: keep the lowest doc_id per identical text
    * (`dropDuplicates` semantics, made deterministic + auditable). The
    * GROUP BY key is the 128-bit md5 digest, NOT the text — at 100 TB the
    * shuffle ships 16 bytes per row instead of whole documents; the
    * representative text rides along as MIN(text) (all values in a digest
    * group are identical, so MIN = the text itself). */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("k"))
      .agg(
        min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("dup_count"),
        min(col("text")).as("text"))
      .select(col("doc_id"), col("dup_count"), col("text"))

  val exactSql: String =
    """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count, MIN(text) AS text
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY doc_id""".stripMargin

  /** Fingerprint dedup: MD5 over whitespace-normalized lowercase text. This
    * is the exact-dedup scale path — the shuffle key is 32 hex chars, not
    * the document body. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select(col("doc_id"), col("fp"), col("dup_count"))

  val fingerprintSql: String =
    """SELECT MIN(doc_id) AS doc_id,
      |       md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
      |       COUNT(*) AS dup_count
      |FROM documents
      |GROUP BY 2
      |ORDER BY doc_id""".stripMargin

  /** Distinct (doc_id, 60-bit shingle hash) pairs — the inverted index
    * shared by the Jaccard and MinHash paths. The index stores [[hash60]] of
    * each 3-gram shingle, NOT the string: the distinct/self-join shuffle key
    * is 8 bytes instead of a ~25-byte text shingle, and every downstream
    * comparison is a long equality (hashed-shingle Jaccard, the standard
    * at-scale form; a 60-bit collision merging two shingles is ~n²/2⁶¹ and
    * deterministic on both engines, so the oracle still matches exactly).
    * Materialized once per session ([[Artifacts]]): one near-dup pipeline
    * references it several times (signatures, pair intersection, doc sizes)
    * and several queries share it — every consumer reads the written table
    * instead of re-running the scan+explode or trusting cache reuse.
    */
  private[graft] def shingleIndex(spark: SparkSession, dir: String): DataFrame =
    // bucketed by doc_id: the signature build and both per-doc size
    // aggregates are groupBy(doc_id) over this table — from a bucketed scan
    // the hash aggregate runs in one stage with no exchange
    Artifacts.bucketedTable(spark, dir, "dedup_shingle_index", Seq("doc_id")) {
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(wordNGrams(col("text"), 3)).as("shingle"))
        .select(col("doc_id"), hash60(col("shingle")).as("h"))
        .distinct()
    }

  private[graft] val shingleIndexSql: String =
    s"""tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
       |        FROM documents),
       |sh AS (SELECT DISTINCT doc_id, ${hash60Sql("s.shingle")} AS h
       |       FROM tok, UNNEST(${shingles3Sql("ts")}) AS s(shingle))""".stripMargin

  /** Max document frequency for a shingle to participate in the Jaccard
    * inverted index. A shingle shared by k docs contributes k² candidate
    * pairs to the self-join — one stop-phrase shared by 10⁶ docs would
    * produce 10¹² pairs at corpus scale. Capping df bounds the self-join
    * fan-out at DfCap² per shingle; non-discriminative shingles carry almost
    * no similarity signal, so dropping them (from sizes AND intersections —
    * both engines compute over the same filtered index) barely moves the
    * score while making the plan linear in the corpus. */
  private val DfCap = 64

  /** The df-capped inverted index (doc_id, h): [[shingleIndex]] restricted
    * to discriminative shingles (df ≤ [[DfCap]]), via the HOT-KEY SET:
    * shingles over the cap are the few non-discriminative stop-shingles
    * (Zipf head — the over-cap key count is bounded by |index|/DfCap and in
    * practice far smaller), so compute them with a hash aggregate (map-side
    * partial aggregation collapses each partition to its distinct shingles
    * first) and broadcast anti-join them out of the index. This replaces a
    * full-index window SORT with an agg over partials plus a map-side
    * filter — measured ~2× on the Jaccard query; at corpus scale the sort
    * was the bottleneck. If the hot set ever outgrew a broadcast, the
    * fallback is a shuffled anti-join — never a window sort. Materialized:
    * consumed by the Jaccard AND containment pipelines (sizes + both
    * self-join sides each). */
  private[graft] def cappedShingleIndex(spark: SparkSession, dir: String): DataFrame =
    // bucketed by h: the candidate-generating self-joins (pair
    // intersections, weighted Jaccard, containment) equi-join this table
    // with itself on h — both sides of those joins start pre-partitioned,
    // zero exchanges below the join (asserted in Round6Spec)
    Artifacts.bucketedTable(spark, dir, "dedup_capped_shingle_index", Seq("h")) {
      val idx = shingleIndex(spark, dir)
      val hot = idx.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > DfCap).select(col("h"))
      idx.join(broadcast(hot), Seq("h"), "left_anti")
        .select("doc_id", "h")
    }

  /** Shared CTE suffix: `shf` = the df-capped index over `sh`. */
  private[graft] val cappedShingleIndexSql: String =
    s"""shf AS (SELECT sh.doc_id, sh.h FROM sh
       |        JOIN (SELECT h FROM sh GROUP BY h
       |              HAVING COUNT(*) <= $DfCap) r USING (h))""".stripMargin

  /** Per-doc distinct-shingle counts over the FULL index — the `|A|`/`|B|`
    * sizes the MinHash and incremental-LSH verifications divide by.
    * Materialized (round-17, guide §2.4): the aggregate is keyed identically
    * at every consumer, and each consumer was re-scanning the corpus-sized
    * index to recompute a doc-cardinality relation — the doc-bucketed index
    * makes the one build exchange-free, and every later read is ~doc-count
    * rows of parquet. */
  private[graft] def docSizesFull(spark: SparkSession, dir: String): DataFrame =
    Artifacts.table(spark, dir, "dedup_doc_sizes_full")(
      shingleIndex(spark, dir).groupBy(col("doc_id")).agg(count(lit(1)).as("n")))

  /** Per-doc shingle counts over the CAPPED index — the size side of the
    * Jaccard/containment/threshold-sweep scoring. Same rationale as
    * [[docSizesFull]]; the two differ because the df cap removes rows from
    * sizes AND intersections on both engines. */
  private[graft] def docSizesCapped(spark: SparkSession, dir: String): DataFrame =
    Artifacts.table(spark, dir, "dedup_doc_sizes_capped")(
      cappedShingleIndex(spark, dir).groupBy(col("doc_id")).agg(count(lit(1)).as("n")))

  /** (doc_a, doc_b, n_common) — shared shingle counts for every candidate
    * pair meeting in the capped inverted index. The self-join + aggregate is
    * the expensive step of BOTH the Jaccard and the containment pipelines
    * (only their final scoring differs), so it is computed once and
    * materialized — the dedup-stage intermediate a production pipeline
    * writes between candidate generation and each scoring policy. */
  private def pairIntersections(spark: SparkSession, dir: String): DataFrame =
    Artifacts.table(spark, dir, "dedup_pair_intersections")(
      pairIntersectionsBuild(spark, dir))

  /** The producer pipeline (Round6Spec pins the zero-exchange-below-join
    * plan contract the bucketed capped index buys). */
  private[graft] def pairIntersectionsBuild(spark: SparkSession, dir: String): DataFrame = {
    val sh = cappedShingleIndex(spark, dir)
    sh.as("a")
      .join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
  }

  /** Exact n-gram Jaccard near-dup pairs above [[JaccardThreshold]], found
    * through the inverted shingle index (docs never meet unless they share a
    * shingle — no O(n²) cross join), restricted to discriminative shingles
    * (df ≤ [[DfCap]]). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    // three consumers (the declared query, the LSH-recall evaluator, the
    // modality-agreement evaluator) read the materialized truth-pair table;
    // bucketed by doc_a to co-partition with the minhash-pairs table the
    // recall evaluation joins it against
    Artifacts.bucketedTable(spark, dir, "dedup_jaccard_pairs", Seq("doc_a")) {
      val sz = docSizesCapped(spark, dir)
      val inter = pairIntersections(spark, dir)
      inter
        .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"), col("n_common"),
          (col("sa.n") + col("sb.n") - col("n_common")).as("n_union"),
          (col("n_common").cast("double") / (col("sa.n") + col("sb.n") - col("n_common")))
            .as("jaccard"))
        .filter(col("jaccard") >= JaccardThreshold)
    }

  val ngramJaccardSql: String =
    s"""WITH $shingleIndexSql,
       |$cappedShingleIndexSql,
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |          FROM shf a JOIN shf b
       |            ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_common,
       |       sa.n + sb.n - n_common AS n_union,
       |       CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard
       |FROM inter
       |JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  private val WeightScale = 1000000L
  private[graft] val WeightedThreshold = 0.3

  /** IDF-WEIGHTED Jaccard near-dup pairs: like [[ngramJaccard]], but each
    * shingle contributes weight `WeightScale div df` instead of 1, so
    * agreement on a RARE shingle counts for more than agreement on a
    * common one — the standard refinement when boilerplate shingles
    * survive the df cap (they stop dominating the score without being
    * dropped). Binary-set weighted Jaccard: Σ_shared w / Σ_union w.
    * Weights are INTEGERS (floor of WeightScale/df): integer sums are
    * exact and associative under any partitioning, and the final score is
    * one int/int division — bit-identical on both engines (a Σ(1/df)
    * double sum would be partial-order-dependent). Same never-all-pairs
    * shape: candidates from the df-capped inverted-index self-join;
    * materialized once per session like every pair product. */
  def weightedJaccard(spark: SparkSession, dir: String): DataFrame =
    Artifacts.table(spark, dir, "dedup_weighted_pairs") {
      val sh = cappedShingleIndex(spark, dir)
      // df over the capped index (df ≤ DfCap by construction); weights ride
      // the index rows through one broadcast-size join on the shingle hash
      val w = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .select(col("h"), expr(s"$WeightScale div df").as("w"))
      val shw = sh.join(w, Seq("h")).select(col("doc_id"), col("h"), col("w"))
      val sz = shw.groupBy("doc_id").agg(sum(col("w")).as("tw"))
      val inter = shw.as("a")
        .join(shw.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(sum(col("a.w")).as("w_common"), count(lit(1)).as("n_common"))
      inter
        .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"), col("n_common"), col("w_common"),
          (col("w_common").cast("double") /
            (col("sa.tw") + col("sb.tw") - col("w_common"))).as("w_jaccard"))
        .filter(col("w_jaccard") >= WeightedThreshold)
    }

  val weightedJaccardSql: String =
    s"""WITH $shingleIndexSql,
       |$cappedShingleIndexSql,
       |wt AS (SELECT h, $WeightScale // COUNT(*) AS w FROM shf GROUP BY h),
       |shw AS (SELECT doc_id, shf.h, w FROM shf JOIN wt USING (h)),
       |sz AS (SELECT doc_id, SUM(w) AS tw FROM shw GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                 SUM(a.w) AS w_common, COUNT(*) AS n_common
       |          FROM shw a JOIN shw b
       |            ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       n_common,
       |       CAST(w_common AS BIGINT) AS w_common,
       |       CAST(w_common AS DOUBLE) / (sa.tw + sb.tw - w_common) AS w_jaccard
       |FROM inter
       |JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |WHERE CAST(w_common AS DOUBLE) / (sa.tw + sb.tw - w_common) >= $WeightedThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  private val ContainmentThreshold = 0.5

  /** Shingle CONTAINMENT pairs: |A∩B| / min(|A|,|B|) ≥
    * [[ContainmentThreshold]] over the df-capped index. Containment is the
    * asymmetric near-dup relation Jaccard misses: a short document quoted
    * wholesale inside a long one has tiny Jaccard (the union is dominated by
    * the long doc) but containment ≈ 1 — the quote/boilerplate/excerpt case
    * a training-data pipeline must catch. Same inverted-index candidate
    * generation as [[ngramJaccard]] (bucketed equi-join, never all-pairs);
    * only the final scoring differs. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val sz = docSizesCapped(spark, dir)
    val inter = pairIntersections(spark, dir)
    inter
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("sa.n").as("n_a"), col("sb.n").as("n_b"),
        (col("n_common").cast("double") / least(col("sa.n"), col("sb.n")))
          .as("containment"))
      .filter(col("containment") >= ContainmentThreshold)
  }

  val containmentSql: String =
    s"""WITH $shingleIndexSql,
       |$cappedShingleIndexSql,
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |          FROM shf a JOIN shf b
       |            ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_common, sa.n AS n_a, sb.n AS n_b,
       |       CAST(n_common AS DOUBLE) / LEAST(sa.n, sb.n) AS containment
       |FROM inter
       |JOIN sz sa ON sa.doc_id = doc_a
       |JOIN sz sb ON sb.doc_id = doc_b
       |WHERE CAST(n_common AS DOUBLE) / LEAST(sa.n, sb.n) >= $ContainmentThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash signatures (`numPerms` perms), LSH banding (`numBands` bands ×
    * numPerms/numBands rows), candidate pairs from band-key equi-join, then
    * exact-Jaccard verification of the candidates — the full scalable
    * near-dup pipeline. Output = candidate pairs that verified at ≥
    * [[JaccardThreshold]], with both the MinHash estimate and the exact
    * similarity.
    *
    * Band geometry is THE recall/cost dial at 100 TB: the probability a pair
    * with true Jaccard j becomes a candidate is the S-curve
    * 1−(1−j^r)^b with r = numPerms/numBands rows and b = numBands — more
    * bands (smaller r) pushes the curve left (higher recall, more candidate
    * verification work), fewer bands pushes it right (cheaper, misses
    * borderline pairs). Defaults 32 perms × 8 bands put the curve's midpoint
    * near j ≈ 0.3 = [[JaccardThreshold]]; the declared oracle query pins the
    * defaults, BandingSpec exercises a second geometry.
    */
  def minhashLsh(
      spark: SparkSession,
      dir: String,
      numPerms: Int = NumPerms,
      numBands: Int = NumBands): DataFrame =
    if (numPerms == NumPerms && numBands == NumBands)
      // the verified-pairs table is the pipeline's product: the pairs
      // query, keep-set, impact, LSH-recall, and connected components all
      // read the materialized table — the dedup stage writes it once,
      // bucketed by doc_a (the key the evaluation joins probe on)
      Artifacts.bucketedTable(spark, dir, "dedup_minhash_pairs", Seq("doc_a"))(
        minhashPipeline(spark, dir, numPerms, numBands))
    else minhashPipeline(spark, dir, numPerms, numBands)

  /** The MinHash signature table (doc_id, sig: array of numPerms longs) —
    * materialized for the default geometry (referenced three times per
    * pipeline run: banding + both sides of the estimate join). */
  private def minhashSignatures(
      spark: SparkSession, dir: String, numPerms: Int): DataFrame = {
    def build = {
      val sh = shingleIndex(spark, dir)
        .withColumn("base", col("h") % MersenneP)
      val minhashes = (0 until numPerms).map(i =>
        min((lit(permA(i)) * col("base") + lit(permB(i))) % MersenneP).as(s"h$i"))
      sh.groupBy("doc_id")
        .agg(minhashes.head, minhashes.tail: _*)
        .withColumn("sig", array((0 until numPerms).map(i => col(s"h$i")): _*))
        .select("doc_id", "sig")
    }
    if (numPerms == NumPerms)
      Artifacts.table(spark, dir, "dedup_minhash_sig")(build)
    else build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** (doc_id, band, k0..k⌈r/2⌉₋₁) from a signature table: each band's
    * slice packed pairwise into longs (see [[minhashPipeline]]). */
  private def bandsOf(sig: DataFrame, numPerms: Int, numBands: Int): DataFrame = {
    val rowsPerBand = numPerms / numBands
    val nPacks = (rowsPerBand + 1) / 2
    val bandStructs = (0 until numBands).map { b =>
      val packs = (0 until nPacks).map { i =>
        val idx = b * rowsPerBand + 2 * i
        val v1 = col("sig").getItem(idx)
        val v2 = if (2 * i + 1 < rowsPerBand) col("sig").getItem(idx + 1) else lit(0L)
        (v1 * MersenneP + v2).as(s"k$i")
      }
      struct(lit(b).as("band") +: packs: _*)
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id") +: col("bs.band").as("band") +:
        (0 until nPacks).map(i => col(s"bs.k$i")): _*)
  }

  /** Band equi-join condition between aliases x and y. */
  private def bandJoinCond(nPacks: Int): Column =
    (0 until nPacks)
      .map(i => col(s"x.k$i") === col(s"y.k$i"))
      .foldLeft(col("x.band") === col("y.band"))(_ && _)

  private def minhashPipeline(
      spark: SparkSession,
      dir: String,
      numPerms: Int,
      numBands: Int): DataFrame = {
    require(numPerms % numBands == 0, "numBands must divide numPerms")
    val rowsPerBand = numPerms / numBands
    val sh = shingleIndex(spark, dir)
    val sig = minhashSignatures(spark, dir, numPerms)

    // one row per (doc, band): the band key is the band's signature slice
    // PACKED PAIRWISE into longs — sig values are < P = 2³¹−1, so
    // v₁·P + v₂ < 2⁶² is an exact, collision-free 8-byte key (odd tails
    // pad with 0). The candidate self-join shuffles ⌈r/2⌉ longs per row
    // instead of a 32-char md5 string (≈¼ the key bytes at r = 4), with no
    // hashing work at all — and the key function is plain integer
    // arithmetic, so the DuckDB oracle reproduces the identical candidate
    // set. (SimHash bands were already integer — this closes the gap.)
    val nPacks = (rowsPerBand + 1) / 2
    val bands = bandsOf(sig, numPerms, numBands)
    val bandEq = bandJoinCond(nPacks)
    val cand = bands.as("x")
      .join(bands.as("y"), bandEq && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

    // native fused loop (round-17): the zip_with+aggregate chain was
    // CodegenFallback, breaking whole-stage codegen for the estimate
    // projection over every candidate pair; integer equality count is
    // arithmetic-free, so the result is exactly unchanged
    val estMatches = graft.functions.VectorFns.arrayEqCount(
      col("sa.sig"), col("sb.sig"))
    val withEst = cand
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (estMatches.cast("double") / numPerms).as("est_jaccard"))

    // verify candidates with exact jaccard, computed ONLY for the candidate
    // pairs (shingle intersection semi-joined to the candidate set) — the
    // whole point of LSH is that the exact O(pairs) work touches ~nothing
    val sz = docSizesFull(spark, dir)
    val nCommon = withEst
      .join(sh.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(sh.as("cb"),
        col("doc_b") === col("cb.doc_id") && col("ca.h") === col("cb.h"))
      .groupBy(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .agg(count(lit(1)).as("n_common"))
    nCommon
      .join(sz.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sz.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        (col("n_common").cast("double") / (col("za.n") + col("zb.n") - col("n_common")))
          .as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  val minhashLshSql: String = {
    val minCols = (0 until NumPerms)
      .map(i => s"MIN((${permA(i)} * base + ${permB(i)}) % $MersenneP) AS h$i")
      .mkString(",\n       ")
    val sigList = (0 until NumPerms).map(i => s"h$i").mkString("[", ", ", "]")
    val estSum = (1 to NumPerms)
      .map(i => s"CASE WHEN sa.sig[$i] = sb.sig[$i] THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")
    // packed pairwise integer band keys — mirrors the Spark side exactly
    // (sig values < P so v1*P + v2 stays inside BIGINT)
    val nPacks = (RowsPerBand + 1) / 2
    val packCols = (0 until nPacks).map { i =>
      val v1 = s"sig[b*$RowsPerBand + ${2 * i + 1}]"
      val v2 = if (2 * i + 1 < RowsPerBand) s"sig[b*$RowsPerBand + ${2 * i + 2}]"
        else "0"
      s"$v1 * $MersenneP + $v2 AS k$i"
    }.mkString(",\n                 ")
    val keyEq = (0 until nPacks).map(i => s"x.k$i = y.k$i").mkString(" AND ")
    s"""WITH $shingleIndexSql,
       |shb AS (SELECT doc_id, h % $MersenneP AS base FROM sh),
       |sigc AS (SELECT doc_id,
       |       $minCols
       |       FROM shb GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigList AS sig FROM sigc),
       |bands AS (SELECT doc_id, b,
       |                 $packCols
       |          FROM sig, UNNEST(range(0, $NumBands)) AS u(b)),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bands x JOIN bands y
       |           ON x.b = y.b AND $keyEq AND x.doc_id < y.doc_id),
       |est AS (SELECT doc_a, doc_b, CAST($estSum AS DOUBLE) / $NumPerms AS est_jaccard
       |        FROM cand
       |        JOIN sig sa ON sa.doc_id = doc_a
       |        JOIN sig sb ON sb.doc_id = doc_b),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |nc AS (SELECT doc_a, doc_b, est_jaccard, COUNT(*) AS n_common
       |       FROM est
       |       JOIN sh ca ON ca.doc_id = doc_a
       |       JOIN sh cb ON cb.doc_id = doc_b AND cb.h = ca.h
       |       GROUP BY 1, 2, 3)
       |SELECT doc_a, doc_b, est_jaccard,
       |       CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) AS jaccard
       |FROM nc
       |JOIN sz za ON za.doc_id = doc_a
       |JOIN sz zb ON zb.doc_id = doc_b
       |WHERE CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  private val BbitBits = 2 // bits kept per minhash value (b-bit minhash)

  /** Audit-sample size target: the b-bit candidate set is by construction
    * ~n²/2^(bits·rows-per-band) — quantifying that explosion is the
    * audit's POINT, but running it on the full corpus is itself quadratic
    * (346.6M pairs at sf3; it would not run at all at 10⁸ docs). So the
    * audit runs on a deterministic hash sample of ~this many docs:
    * k = ⌈n/target⌉ and a doc participates iff
    * hash60("bbit:"+doc_id) % k = 0. recall/precision are RATIO
    * estimators, unbiased under a doc-uniform sample; k = 1 (sample =
    * corpus, the exact audit) at every oracle-swept scale through sf1
    * (50k docs), and the oracle SQL computes the identical k from the
    * same COUNT, so the differential stays exact at every scale. */
  private[graft] val BbitSampleTarget = 65536L

  /** B-BIT MINHASH evaluation (Li & König, 2010): keep only the lowest
    * [[BbitBits]] bits of each minhash value — the signature shrinks
    * 16× (the storage/shuffle win the technique exists for) while band
    * collisions get a higher random floor. Both the b-bit and the
    * full-width band pipelines run from the SAME materialized signature
    * artifact (restricted to the [[BbitSampleTarget]] audit sample), and
    * their candidate sets are scored against the exact n-gram Jaccard
    * truth pairs within the same sample: one row per method with
    * candidate count, true positives, and floor-division
    * recall/precision basis points. Because a full-band match implies
    * equality of every value — hence of every low-bit slice — the b-bit
    * candidate set is a SUPERSET of the full-width one (spec-pinned):
    * recall can only rise, precision only fall, and the audit quantifies
    * that trade exactly. */
  def bbitMinhash(spark: SparkSession, dir: String): DataFrame =
    bbitMinhashWithTarget(spark, dir, BbitSampleTarget)

  /** [[bbitMinhash]] with an explicit sample-size target — Round12Spec
    * forces a tiny target so the sampled regime (k > 1, unreachable at
    * test corpus sizes under the default) runs and is held to the same
    * invariants. A non-default target suffixes the artifact names: the
    * session artifact cache is write-once per (dir, name), and a forced
    * spec run must never poison the default audit's tables. */
  private[graft] def bbitMinhashWithTarget(
      spark: SparkSession, dir: String, target: Long): DataFrame = {
    val nDocs = Tables.documents(spark, dir).count()
    val sampleK = (nDocs + target - 1) / target
    val suffix = if (target == BbitSampleTarget) "" else s"_t$target"
    def inSample(idCol: Column): Column =
      pmod(hash60(concat(lit("bbit:"), idCol.cast("string"))),
        lit(sampleK)) === 0
    // k = 1 keeps the filter out entirely: plans at oracle-swept scales
    // are byte-identical to the unsampled audit
    val sig =
      if (sampleK == 1L) minhashSignatures(spark, dir, NumPerms)
      else minhashSignatures(spark, dir, NumPerms)
        .filter(inSample(col("doc_id")))
    val rowsPerBand = NumPerms / NumBands
    val bmask = (1L << BbitBits) - 1
    // band tables + candidate sets go through the Artifacts layer, not
    // session persist(): a persist held here is never released for the
    // session's lifetime (round-9 advice), and metrics() consumes each
    // candidate set twice (count + semi-join) — as materialized tables the
    // re-reads are file scans, the band self-joins run zero-exchange off
    // the bucketed key, and memory ownership ends with the write
    val bbitBands = Artifacts.bucketedTable(
        spark, dir, s"dedup_bbit_bands$suffix", Seq("bkey")) {
      sig.select(col("doc_id"),
        posexplode(array((0 until NumBands).map { b =>
          (0 until rowsPerBand).map(j =>
            (col("sig").getItem(b * rowsPerBand + j) % (bmask + 1)) *
              lit(1L << (BbitBits * j))).reduce((a: Column, c: Column) => a + c)
        }: _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    }
    val bcand = Artifacts.table(spark, dir, s"dedup_bbit_cand$suffix") {
      bbitBands.as("x")
        .join(bbitBands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
    }
    val nPacks = (rowsPerBand + 1) / 2
    val fbands = Artifacts.bucketedTable(
        spark, dir, s"dedup_bbit_fbands$suffix", Seq("k0")) {
      bandsOf(sig, NumPerms, NumBands)
    }
    val fcand = Artifacts.table(spark, dir, s"dedup_bbit_fcand$suffix") {
      fbands.as("x")
        .join(fbands.as("y"), bandJoinCond(nPacks) && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
    }
    val truthAll = ngramJaccard(spark, dir).select(col("doc_a"), col("doc_b"))
    // truth restricted to the same sampled universe the candidates come
    // from — recall/precision stay ratios over one population
    val truth =
      if (sampleK == 1L) truthAll
      else truthAll.filter(inSample(col("doc_a")) && inSample(col("doc_b")))
    // Round-18 (guide §2.4, the recall_eval shape): ONE tagged pass over
    // both candidate artifacts replaces the per-method scalar-aggregate
    // chain — the former tail ran 7 one-row aggregate jobs (each method:
    // candidate count + semi-join'd tp count, plus the SAME truth count
    // crossJoined once per method). Counting is exact: both candidate
    // artifacts are distinct()-built, so the per-method inner-semi counts
    // are unchanged, and grouped counts over the tagged union equal the
    // per-method scalar counts. A method with zero candidates cannot
    // occur (both artifacts are non-empty by the band construction at
    // every swept scale), but the left join + coalesce keeps the row
    // like the old crossJoin-of-1-row-aggregates did. Round18Spec pins
    // row equality to the per-method form.
    val tagged = bcand.select(lit("bbit2").as("method"), col("doc_a"), col("doc_b"))
      .unionByName(fcand.select(lit("full").as("method"), col("doc_a"), col("doc_b")))
    val nCand = tagged.groupBy(col("method")).agg(count(lit(1)).as("n_candidates"))
    val tp = tagged.join(truth, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy(col("method")).agg(count(lit(1)).as("tp"))
    import spark.implicits._
    Seq("bbit2", "full").toDF("method")
      .join(nCand, Seq("method"), "left")
      .join(tp, Seq("method"), "left")
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("method"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("n_truth"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("method"), col("n_candidates"), col("n_truth"),
        col("tp"),
        // n_truth = 0 guard: same engine-divergence trap as precision_bp
        // (Spark div NULLs, DuckDB // errors) when the corpus slice has
        // no true near-dup pairs at all
        expr("""case when n_truth = 0 then 0
                else (tp * 10000) div n_truth end""").as("recall_bp"),
        expr("""case when n_candidates = 0 then 0
                else (tp * 10000) div n_candidates end""").as("precision_bp"))
  }

  // The CTE blocks of [[bbitMinhashSql]], exposed individually so
  // StagedOracles can materialize each heavy candidate relation as its
  // own sequential DuckDB stage at sf>=6: the metrics tail references
  // `bcand`/`fcand` 5x each and `truth` 10x, DuckDB inlines plain CTEs
  // per reference, and at sf6 `bcand` alone is ~56M pairs (the 2-bit
  // bands collide by design — that loss is the thing measured), so the
  // ONE monolithic plan held ten concurrent self-join+DISTINCT spill
  // states and died of disk (round-15 sweep, >48 GB observed in the
  // round-16 bisect). bbitMinhashSql itself is the byte-identical
  // concatenation of these blocks (Round16Spec pins the assembly).

  /** shb/sigc/sk/sig: the sampled [[NumPerms]]-perm signature pipeline. */
  private[graft] val bbitSigCtesSql: String = {
    val minCols = (0 until NumPerms)
      .map(i => s"MIN((${permA(i)} * base + ${permB(i)}) % $MersenneP) AS h$i")
      .mkString(",\n       ")
    val sigList = (0 until NumPerms).map(i => s"h$i").mkString("[", ", ", "]")
    s"""shb AS (SELECT doc_id, h % $MersenneP AS base FROM sh),
       |sigc AS (SELECT doc_id,
       |       $minCols
       |       FROM shb GROUP BY doc_id),
       |sk AS (SELECT (COUNT(*) + ${BbitSampleTarget - 1}) // $BbitSampleTarget
       |         AS k FROM documents),
       |sig AS (SELECT doc_id, $sigList AS sig FROM sigc CROSS JOIN sk
       |        WHERE ${hash60Sql("'bbit:' || CAST(doc_id AS VARCHAR)")} % k = 0)""".stripMargin
  }

  /** bb/bcand: the b-bit ([[BbitBits]]-bit) banded candidate self-join. */
  private[graft] val bbitBcandCtesSql: String = {
    val rowsPerBand = NumPerms / NumBands
    val bmask1 = 1L << BbitBits
    val bkeyExpr = (0 until rowsPerBand).map(j =>
      s"(sig[b*$rowsPerBand + ${j + 1}] % $bmask1) * ${1L << (BbitBits * j)}")
      .mkString(" + ")
    s"""bb AS (SELECT doc_id, b, $bkeyExpr AS bkey
       |       FROM sig, UNNEST(range(0, $NumBands)) AS u(b)),
       |bcand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM bb x JOIN bb y
       |            ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id)""".stripMargin
  }

  /** fbands/fcand: the full-width banded candidate self-join. */
  private[graft] val bbitFcandCtesSql: String = {
    val rowsPerBand = NumPerms / NumBands
    val nPacks = (rowsPerBand + 1) / 2
    val packCols = (0 until nPacks).map { i =>
      val v1 = s"sig[b*$rowsPerBand + ${2 * i + 1}]"
      val v2 = if (2 * i + 1 < rowsPerBand) s"sig[b*$rowsPerBand + ${2 * i + 2}]"
        else "0"
      s"$v1 * $MersenneP + $v2 AS k$i"
    }.mkString(",\n                  ")
    val keyEq = (0 until nPacks).map(i => s"x.k$i = y.k$i").mkString(" AND ")
    s"""fbands AS (SELECT doc_id, b,
       |                  $packCols
       |           FROM sig, UNNEST(range(0, $NumBands)) AS u(b)),
       |fcand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |          FROM fbands x JOIN fbands y
       |            ON x.b = y.b AND $keyEq AND x.doc_id < y.doc_id)""".stripMargin
  }

  /** sz/inter/truth: exact-Jaccard ground truth over the audit sample. */
  private[graft] val bbitTruthCtesSql: String =
    s"""sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |          FROM shf a JOIN shf b
       |            ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |truth AS (SELECT doc_a, doc_b FROM inter
       |          JOIN sz sa ON doc_a = sa.doc_id
       |          JOIN sz sb ON doc_b = sb.doc_id
       |          CROSS JOIN sk
       |          WHERE CAST(n_common AS DOUBLE)
       |                  / (sa.n + sb.n - n_common) >= $JaccardThreshold
       |            AND ${hash60Sql("'bbit:' || CAST(doc_a AS VARCHAR)")} % k = 0
       |            AND ${hash60Sql("'bbit:' || CAST(doc_b AS VARCHAR)")} % k = 0)""".stripMargin

  val bbitMinhashSql: String = {
    def metricsSql(method: String, cand: String) =
      s"""SELECT '$method' AS method,
         |       (SELECT COUNT(*) FROM $cand) AS n_candidates,
         |       (SELECT COUNT(*) FROM truth) AS n_truth,
         |       (SELECT COUNT(*) FROM $cand c JOIN truth t
         |          ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS tp,
         |       CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 0
         |            ELSE ((SELECT COUNT(*) FROM $cand c JOIN truth t
         |                     ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) * 10000)
         |                   // (SELECT COUNT(*) FROM truth) END AS recall_bp,
         |       CASE WHEN (SELECT COUNT(*) FROM $cand) = 0 THEN 0
         |            ELSE ((SELECT COUNT(*) FROM $cand c JOIN truth t
         |                     ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) * 10000)
         |                   // (SELECT COUNT(*) FROM $cand) END AS precision_bp""".stripMargin
    s"""WITH $shingleIndexSql,
       |$cappedShingleIndexSql,
       |$bbitSigCtesSql,
       |$bbitBcandCtesSql,
       |$bbitFcandCtesSql,
       |$bbitTruthCtesSql
       |${metricsSql("bbit2", "bcand")}
       |UNION ALL
       |${metricsSql("full", "fcand")}
       |ORDER BY method""".stripMargin
  }

  private val SimhashBits = 60

  /** SimHash: 60-bit locality-sensitive digest per document. Each token's
    * [[hash60]] votes ±1 on every bit; the sign of each bit-sum forms the
    * digest. Near-dups differ in few bits (candidate search = band
    * equi-join on digest slices; the digest itself is this query's output).
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // weight votes by per-doc token count FIRST: identical digest (k
    // occurrences of a token vote ±k either way), but the MD5 and the 60
    // bit-sums run once per DISTINCT (doc, token) instead of once per
    // occurrence — on Zipf text the head tokens dominate occurrences, so
    // this is the standard constant-factor cut for sketching at scale
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", hash60(col("token")))
    val bitSums = (0 until SimhashBits).map(j =>
      sum(when(expr(s"(shiftright(h, $j) & 1) = 1"), col("cnt")).otherwise(-col("cnt")))
        .as(s"b$j"))
    val digest = (0 until SimhashBits)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce((a: Column, b: Column) => a + b)
    // the digest table is the operator's product: the declared simhash
    // query AND the band-pair query both read the materialized table
    Artifacts.table(spark, dir, "dedup_simhash") {
      toks.groupBy("doc_id")
        .agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"), digest.as("simhash"))
    }
  }

  /** Shared CTE prefix computing (doc_id, simhash) as `d`. */
  private val simhashCoreSql: String = {
    val bitSums = (0 until SimhashBits)
      .map(j => s"SUM(CASE WHEN ((h >> $j) & 1) = 1 THEN cnt ELSE -cnt END) AS b$j")
      .mkString(",\n       ")
    val digest = (0 until SimhashBits)
      .map(j => s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString("(", " + ", ")")
    s"""tok AS (SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS token
       |            FROM documents),
       |tc AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
       |h AS (SELECT doc_id, cnt, ${hash60Sql("token")} AS h FROM tc),
       |s AS (SELECT doc_id,
       |       $bitSums
       |      FROM h GROUP BY doc_id),
       |d AS (SELECT doc_id, $digest AS simhash FROM s)""".stripMargin
  }

  val simhashSql: String =
    s"""WITH $simhashCoreSql
       |SELECT doc_id, simhash FROM d
       |ORDER BY doc_id""".stripMargin

  private val SimhashBands = 4 // 15 bits each; pigeonhole-complete for hamming <= 3
  private val SimhashBandBits = 15
  private val HammingMax = 8

  /** SimHash near-dup pairs: candidates share one of `nBands` digest bands
    * of `bandBits` bits (equi-join — never all-pairs), kept when full
    * Hamming distance ≤ `hammingMax`. By pigeonhole, a band match is
    * GUARANTEED for pairs with distance < nBands (distance < number of
    * bands ⇒ some band untouched) and probabilistic above — so nBands sets
    * the guaranteed-recall radius and bandBits sets the bucket selectivity
    * (expected docs per bucket = corpus / 2^bandBits under uniform hashing;
    * at 10⁹ docs, 15-bit bands put ~30k docs in a bucket — widen bandBits /
    * raise nBands together to keep nBands·bandBits ≤ 60). Defaults pin the
    * declared oracle query; BandingSpec exercises a second geometry.
    */
  def simhashPairs(
      spark: SparkSession,
      dir: String,
      nBands: Int = SimhashBands,
      bandBits: Int = SimhashBandBits,
      hammingMax: Int = HammingMax): DataFrame = {
    require(nBands * bandBits <= SimhashBits, "bands must tile the digest")
    val mask = (1L << bandBits) - 1
    val d = simhash(spark, dir)
    val bands = d.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nBands).map(b =>
        expr(s"shiftright(simhash, ${b * bandBits}) & $mask")): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
      // both self-join sides read this — persist (the signature-table policy)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("ah"), col("y.simhash").as("bh"))
      .distinct()
      .withColumn("hamming", expr("bit_count(ah ^ bh)"))
      .filter(col("hamming") <= hammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  val simhashPairsSql: String =
    s"""WITH $simhashCoreSql,
       |bands AS (SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS bkey
       |          FROM d, UNNEST(range(0, $SimhashBands)) AS u(b)),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |                x.simhash AS ah, y.simhash AS bh
       |         FROM bands x JOIN bands y
       |           ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(ah, bh)) AS INTEGER) AS hamming
       |FROM cand
       |WHERE bit_count(xor(ah, bh)) <= $HammingMax
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The dedup APPLICATION: the kept corpus. A document survives unless it
    * is the higher-id member of a verified MinHash-LSH near-dup pair —
    * i.e. keep-lowest-id per near-dup cluster, approximated edge-wise (the
    * full connected-components pass is an iterative join; edge-wise removal
    * is the standard one-shot form and removes a superset of any
    * per-cluster keeper policy's removals). Expressed as a LEFT ANTI join
    * against the pair table — no NOT-IN list on the driver. */
  def keepSet(spark: SparkSession, dir: String): DataFrame = {
    val drops = minhashLsh(spark, dir).select(col("doc_b")).distinct()
    Tables.documents(spark, dir)
      .join(drops, col("doc_id") === col("doc_b"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
  }

  val keepSetSql: String =
    s"""SELECT doc_id, n_chars
       |FROM documents
       |WHERE doc_id NOT IN (SELECT doc_b FROM (
       |$minhashLshSql
       |))
       |ORDER BY doc_id""".stripMargin

  /** LSH CANDIDATE-RECALL evaluation: the MinHash-LSH pipeline's verified
    * pairs measured against the exact inverted-index Jaccard ground truth
    * at the same threshold — one row: truth size, found size, true
    * positives, recall, precision. The dedup twin of `sim_recall_eval`:
    * the number you check before trusting a band geometry in production
    * (the S-curve says what recall SHOULD be; this measures it). Both
    * inputs are the already-persisted pipeline products, so the evaluation
    * costs two small joins. Precision can be < 1 even though candidates
    * are exactly verified: LSH verifies over ALL shared shingles while the
    * ground truth scores over the df-capped index — the report quantifies
    * exactly that definitional gap. */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = ngramJaccard(spark, dir).select(col("doc_a"), col("doc_b"))
    val found = minhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
    val tp = truth.join(found, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_tp"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .crossJoin(tp)
      .select(col("n_truth"), col("n_found"), col("n_tp"),
        (col("n_tp").cast("double") / col("n_truth")).as("recall"),
        (col("n_tp").cast("double") / col("n_found")).as("precision"))
  }

  val lshRecallSql: String =
    s"""WITH truth AS (SELECT doc_a, doc_b FROM (
       |$ngramJaccardSql
       |)),
       |found AS (SELECT doc_a, doc_b FROM (
       |$minhashLshSql
       |)),
       |tp AS (SELECT COUNT(*) AS n_tp FROM truth
       |       WHERE EXISTS (SELECT 1 FROM found f
       |                     WHERE f.doc_a = truth.doc_a AND f.doc_b = truth.doc_b))
       |SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
       |       (SELECT COUNT(*) FROM found) AS n_found,
       |       n_tp,
       |       CAST(n_tp AS DOUBLE) / (SELECT COUNT(*) FROM truth) AS recall,
       |       CAST(n_tp AS DOUBLE) / (SELECT COUNT(*) FROM found) AS precision
       |FROM tp""".stripMargin

  /** DEDUP IMPACT report: the before/after accounting a pipeline publishes
    * with every dedup run — corpus size, survivors of the edge-wise
    * MinHash keep-set, and the character mass retained, in one row. Chars
    * aggregate in exact integers; fractions are single int/int divisions.
    * Composes the persisted keep-set product with one corpus aggregate. */
  def impact(spark: SparkSession, dir: String): DataFrame = {
    val before = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars_before"))
    val after = keepSet(spark, dir)
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_after"))
    before.crossJoin(after)
      .select(col("n_docs"), col("n_kept"),
        (col("n_docs") - col("n_kept")).as("n_removed"),
        col("chars_before"), col("chars_after"),
        (col("n_kept").cast("double") / col("n_docs")).as("doc_frac_kept"),
        (col("chars_after").cast("double") / col("chars_before"))
          .as("char_frac_kept"))
  }

  val impactSql: String =
    s"""WITH ks AS (
       |$keepSetSql
       |),
       |b AS (SELECT COUNT(*) AS n_docs,
       |             CAST(SUM(n_chars) AS BIGINT) AS chars_before FROM documents),
       |a AS (SELECT COUNT(*) AS n_kept,
       |             CAST(SUM(n_chars) AS BIGINT) AS chars_after FROM ks)
       |SELECT n_docs, n_kept, n_docs - n_kept AS n_removed,
       |       chars_before, chars_after,
       |       CAST(n_kept AS DOUBLE) / n_docs AS doc_frac_kept,
       |       CAST(chars_after AS DOUBLE) / chars_before AS char_frac_kept
       |FROM b, a""".stripMargin

  private val WinnowW = 16 // winnowing window: 16 consecutive char-8-grams
  private val WinnowShared = 2 // pairs must share at least this many prints

  /** WINNOWING PAIRS — the MOSS-style shared-SPAN detector: true windowed
    * winnowing (min gram hash per sliding window of [[WinnowW]] consecutive
    * char-8-grams, full windows only) gives each document a sparse
    * fingerprint SET with the guarantee that any shared substring of
    * ≥ W+7 chars yields a shared fingerprint; documents sharing ≥
    * [[WinnowShared]] fingerprints are reported with the shared count.
    * This catches copied SPANS (quotes, license blocks, lifted paragraphs)
    * that whole-document Jaccard dilutes away — the span-level face of the
    * dedup tier. Same never-all-pairs shape as everything here: inverted
    * index on the fingerprint (df-capped), self-join, count.
    *
    * The fingerprint set is computed as a pure PROJECTION — gram hashes
    * into a per-doc array, windowed mins via `slice`+`array_min`, per-doc
    * dedup via `array_distinct` — NOT as explode + window + distinct: the
    * window form shuffles the FULL gram stream (corpus × |text| rows) just
    * to sort it back per document, the one genuinely corpus×2000-sized
    * exchange in the dedup tier, where the projection form ships nothing
    * until the fingerprint index itself (~2/W of the gram count, 8×
    * sparser). Measured ~2× on this query at sf0.1; at 100 TB the removed
    * shuffle is the difference between scan-bound and network-bound. Docs
    * shorter than W+7 chars have no full window and drop out (by
    * construction). */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    // PERSIST, not an Artifacts table, on purpose: the fingerprint set has
    // a single consuming query (three references within it) — a written
    // artifact measured no faster than the memory-cached relation here,
    // and the artifact layer only pays for itself on CROSS-query products
    val fps = Tables.documents(spark, dir)
      .filter(length(col("text")) >= 8 + WinnowW - 1) // ≥ one full window
      // native one-pass fingerprinting (round-17): the chained HOF form
      // (hash array projection, then array_min over a slice per window)
      // was CodegenFallback and allocated a W-element slice per window
      // position — O(len·W) interpreted evaluations per document, the
      // heaviest per-row loop in the dedup tier. WinnowFingerprints is the
      // same grams → windowed-min → first-occurrence-distinct computation
      // as one compiled loop (WinnowFnsSpec pins bit-equality).
      .select(col("doc_id"),
        explode(graft.functions.TextFns.winnowFps(col("text"), WinnowW)).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Round-18 (guide §3.2/§2.4): semi-reduce then group-enumerate. A
    // fingerprint can only form pairs when 2 ≤ df ≤ DfCap, so ONE semi-join
    // against that (small) eligible set drops both the over-cap stop-prints
    // AND the df=1 majority before any pair machinery — the former shape
    // anti-joined only the hot set and then streamed every df=1 row through
    // a fingerprint self-join (two more passes over the capped stream).
    // Pair enumeration is a per-group generator fan-out over the collected
    // doc list (bounded ≤ DfCap rows by the eligibility filter, so the
    // aggregation state is bounded) — no self-join at all. Hint-free: AQE
    // broadcasts the eligible set when it is small (r17 ref_integrity
    // policy; at boilerplate-heavy scale it may legitimately not be).
    // Round18Spec pins result equality to the self-join form.
    val eligible = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= DfCap).select(col("fp"))
    fps.join(eligible, Seq("fp"), "left_semi")
      .groupBy(col("fp")).agg(collect_list(col("doc_id")).as("ds"))
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowShared)
  }

  val winnowPairsSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, length(text) - 7 AS n_grams, i AS pos,
       |         ${hash60Sql("substr(text, i, 8)")} AS h
       |  FROM documents, UNNEST(range(1, greatest(length(text) - 6, 1))) AS u(i)
       |  WHERE length(text) >= 8),
       |w AS (SELECT doc_id, n_grams, pos,
       |             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
       |               ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS fp
       |      FROM g),
       |fps AS (SELECT DISTINCT doc_id, fp FROM w
       |        WHERE pos <= n_grams - $WinnowW + 1),
       |capped AS (SELECT fps.doc_id, fps.fp FROM fps
       |           JOIN (SELECT fp FROM fps GROUP BY fp
       |                 HAVING COUNT(*) <= $DfCap) r USING (fp))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
       |FROM capped a JOIN capped b
       |  ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING COUNT(*) >= $WinnowShared
       |ORDER BY doc_a, doc_b""".stripMargin

  /** THRESHOLD SWEEP: candidate-pair counts at every Jaccard threshold
    * 0.1 … 0.9 — the calibration table you read BEFORE picking a dedup
    * threshold (and the empirical side of the LSH S-curve: band geometry
    * is tuned so the curve's midpoint sits at the chosen threshold). One
    * conditional aggregation over the already-persisted pair-intersection
    * table — the sweep costs nothing beyond the pipeline that produced the
    * candidates; every threshold appears even with zero pairs. The
    * jaccard double is an int/int division computed identically on both
    * engines, so the threshold comparisons agree bit-for-bit. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val sz = docSizesCapped(spark, dir)
    val scored = pairIntersections(spark, dir)
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select((col("n_common").cast("double") /
        (col("sa.n") + col("sb.n") - col("n_common"))).as("j"))
    val aggs = (1 to 9).map(i =>
      count(when(col("j") >= lit(i / 10.0), 1)).as(s"n_$i"))
    scored.agg(aggs.head, aggs.tail: _*)
      .select(explode(array((1 to 9).map(i =>
        struct(lit(i * 10).as("threshold_pct"), col(s"n_$i").as("n_pairs"))): _*))
        .as("s"))
      .select(col("s.threshold_pct"), col("s.n_pairs"))
  }

  val thresholdSweepSql: String = {
    val conds = (1 to 9).map(i =>
      s"COUNT(CASE WHEN j >= ${i / 10.0} THEN 1 END) AS n_$i").mkString(",\n       ")
    val rows = (1 to 9).map(i =>
      s"SELECT ${i * 10} AS threshold_pct, n_$i AS n_pairs FROM a")
      .mkString("\nUNION ALL\n")
    s"""WITH $shingleIndexSql,
       |$cappedShingleIndexSql,
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |          FROM shf a JOIN shf b
       |            ON a.h = b.h AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |sc AS (SELECT CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS j
       |       FROM inter
       |       JOIN sz sa ON sa.doc_id = doc_a
       |       JOIN sz sb ON sb.doc_id = doc_b),
       |a AS (SELECT
       |       $conds
       |      FROM sc)
       |$rows
       |ORDER BY threshold_pct""".stripMargin
  }

  /** MODALITY AGREEMENT: do the lexical and the semantic near-dup detectors
    * find the same pairs? One row: the exact n-gram Jaccard pair set vs the
    * embedding-cosine pair set (same doc key space), their overlap, and the
    * Jaccard of the two PAIR SETS. The cross-modality sanity check a dedup
    * rollout runs before trusting either detector alone: high agreement
    * says the corpus's near-dups are plain copies (either detector
    * suffices); low agreement says paraphrase-heavy (semantic catches what
    * lexical misses) or template-heavy (vice versa). Both inputs are the
    * persisted pipeline products, so this evaluator costs one semi-join +
    * three scalar aggregates. NULL agreement when both sets are empty
    * (0/0), identically on both engines. */
  def modalityAgreement(spark: SparkSession, dir: String): DataFrame = {
    val lex = ngramJaccard(spark, dir).select(col("doc_a"), col("doc_b"))
    val sem = Similarity.embeddingCosinePairs(spark, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val both = lex.join(sem, Seq("doc_a", "doc_b"), "left_semi")
      .agg(count(lit(1)).as("n_both"))
    lex.agg(count(lit(1)).as("n_lexical"))
      .crossJoin(sem.agg(count(lit(1)).as("n_semantic")))
      .crossJoin(both)
      .select(col("n_lexical"), col("n_semantic"), col("n_both"),
        when(col("n_lexical") + col("n_semantic") - col("n_both") === 0,
          lit(null).cast("double"))
          .otherwise(col("n_both").cast("double") /
            (col("n_lexical") + col("n_semantic") - col("n_both")))
          .as("pair_agreement"))
  }

  val modalityAgreementSql: String =
    s"""WITH lex AS (SELECT doc_a, doc_b FROM (
       |$ngramJaccardSql
       |)),
       |sem AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM (
       |${Similarity.embeddingCosinePairsSql}
       |)),
       |b AS (SELECT COUNT(*) AS n_both FROM lex
       |      WHERE EXISTS (SELECT 1 FROM sem
       |                    WHERE sem.doc_a = lex.doc_a AND sem.doc_b = lex.doc_b)),
       |s AS (SELECT (SELECT COUNT(*) FROM lex) AS n_lexical,
       |             (SELECT COUNT(*) FROM sem) AS n_semantic,
       |             n_both
       |      FROM b)
       |SELECT n_lexical, n_semantic, n_both,
       |       CASE WHEN n_lexical + n_semantic - n_both = 0 THEN NULL
       |            ELSE CAST(n_both AS DOUBLE) / (n_lexical + n_semantic - n_both)
       |       END AS pair_agreement
       |FROM s""".stripMargin

  private val EditMax = 3

  /** String-edit near-dup over catalog names: distinct names paired within
    * Levenshtein distance ≤ [[EditMax]], candidates BLOCKED by 4-char
    * prefix (the classic record-linkage blocking strategy — same
    * never-all-pairs shape as the shingle/band joins, with the same caveat:
    * a skewed block degenerates, so production blocks on multiple keys,
    * e.g. prefix + length band). Grouping to DISTINCT names first is the
    * real scale lever: the quadratic step runs on name cardinality, not
    * row count, and each name carries its record count + representative
    * key back to the record level. */
  def nameEdit(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name"))
      .agg(min(col("p_partkey")).as("rep_key"), count(lit(1)).as("n_records"))
      .withColumn("blk", substring(col("p_name"), 1, 4))
    names.as("a").join(names.as("b"),
        col("a.blk") === col("b.blk") && col("a.p_name") < col("b.p_name"))
      .withColumn("edit_dist", levenshtein(col("a.p_name"), col("b.p_name")))
      .filter(col("edit_dist") <= EditMax)
      .select(
        col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
        col("edit_dist"),
        col("a.n_records").as("n_a"), col("b.n_records").as("n_b"))
  }

  val nameEditSql: String =
    s"""WITH n AS (SELECT p_name, MIN(p_partkey) AS rep_key, COUNT(*) AS n_records
       |           FROM part GROUP BY p_name)
       |SELECT a.p_name AS name_a, b.p_name AS name_b,
       |       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist,
       |       a.n_records AS n_a, b.n_records AS n_b
       |FROM n a JOIN n b
       |  ON substr(a.p_name, 1, 4) = substr(b.p_name, 1, 4) AND a.p_name < b.p_name
       |WHERE levenshtein(a.p_name, b.p_name) <= $EditMax
       |ORDER BY name_a, name_b""".stripMargin

  /** MULTI-KEY-BLOCKED string-edit linkage: the production form of
    * [[nameEdit]]'s single-prefix blocking. A 4-char-prefix block MISSES
    * pairs whose edit sits in the first four characters, so production
    * record linkage unions candidates from several independent blocking
    * keys; here prefix-block ∪ (length-band × first-char) — a pair
    * survives if EITHER key collides, and each block stays a bounded
    * equi-join (never all-pairs). The emitted relation adds which blocks
    * found each pair, the recall-accounting a linkage rollout reads to
    * decide if another key is needed (pairs found ONLY by the second key
    * = exactly the single-key recall gap). Same distinct-names-first
    * lever: the quadratic step runs on name cardinality. */
  def nameEditMultiblock(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name"))
      .agg(count(lit(1)).as("n_records"))
      .withColumn("pfx", substring(col("p_name"), 1, 4))
      .withColumn("lb", floor(length(col("p_name")) / 4))
      .withColumn("fc", substring(col("p_name"), 1, 1))
    def block(key: Seq[String], tag: String) =
      names.as("a").join(names.as("b"),
          key.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
            col("a.p_name") < col("b.p_name"))
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
          lit(tag == "prefix").as("by_prefix"),
          lit(tag == "lenband").as("by_lenband"))
    block(Seq("pfx"), "prefix")
      .unionByName(block(Seq("lb", "fc"), "lenband"))
      .groupBy(col("name_a"), col("name_b"))
      .agg(max(col("by_prefix")).as("by_prefix"),
        max(col("by_lenband")).as("by_lenband"))
      .withColumn("edit_dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("edit_dist") <= EditMax)
      .select(col("name_a"), col("name_b"), col("edit_dist"),
        col("by_prefix"), col("by_lenband"))
  }

  val nameEditMultiblockSql: String =
    s"""WITH n AS (SELECT p_name, COUNT(*) AS n_records FROM part GROUP BY p_name),
       |k AS (SELECT p_name, substr(p_name, 1, 4) AS pfx,
       |             CAST(floor(length(p_name) / 4) AS BIGINT) AS lb,
       |             substr(p_name, 1, 1) AS fc
       |      FROM n),
       |cand AS (
       |  SELECT a.p_name AS name_a, b.p_name AS name_b,
       |         true AS by_prefix, false AS by_lenband
       |  FROM k a JOIN k b ON a.pfx = b.pfx AND a.p_name < b.p_name
       |  UNION ALL
       |  SELECT a.p_name, b.p_name, false, true
       |  FROM k a JOIN k b
       |    ON a.lb = b.lb AND a.fc = b.fc AND a.p_name < b.p_name),
       |u AS (SELECT name_a, name_b,
       |             MAX(by_prefix) AS by_prefix, MAX(by_lenband) AS by_lenband
       |      FROM cand GROUP BY 1, 2)
       |SELECT name_a, name_b,
       |       CAST(levenshtein(name_a, name_b) AS INTEGER) AS edit_dist,
       |       by_prefix, by_lenband
       |FROM u
       |WHERE levenshtein(name_a, name_b) <= $EditMax
       |ORDER BY name_a, name_b""".stripMargin

  /** Connected components of the near-dup pair graph: every doc that
    * appears in a verified MinHash pair, labeled with its component's
    * minimum doc_id — the true cluster-keeper semantics that [[keepSet]]
    * approximates edge-wise. Delegates to [[Graph.components]] (shared
    * pointer-jumping min-label propagation — deterministic fixpoint, the
    * DuckDB oracle recomputes it as a recursive transitive closure).
    */
  def components(spark: SparkSession, dir: String): DataFrame =
    // two consumers (the declared query + the cluster-keeper policy) read
    // the materialized component labels; the fixpoint runs once per session
    Artifacts.table(spark, dir, "dedup_components")(
      componentsFixpoint(spark, dir))

  private def componentsFixpoint(spark: SparkSession, dir: String): DataFrame =
    Graph.components(spark,
        minhashLsh(spark, dir).select(col("doc_a"), col("doc_b")))
      .select(col("id").as("doc_id"), col("comp").as("component_root"))


  /** Shared recursive-CTE core: transitive closure of the near-dup pair
    * graph as `reach(id, r)`; consumers aggregate MIN(r) per id.
    * `private[graft]`: [[graft.StagedOracles]] swaps this head out as a
    * verbatim unit for the staged iterative closure at sf≥1. */
  private[graft] val componentsCoreSql: String =
    s"""p AS (
       |$minhashLshSql
       |),
       |sym AS (SELECT doc_a AS a, doc_b AS b FROM p
       |        UNION SELECT doc_b, doc_a FROM p),
       |nodes AS (SELECT DISTINCT a AS id FROM sym),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
       |)""".stripMargin

  val componentsSql: String =
    s"""WITH RECURSIVE $componentsCoreSql
       |SELECT id AS doc_id, MIN(r) AS component_root
       |FROM reach
       |GROUP BY id
       |ORDER BY doc_id""".stripMargin

  /** KEEP-BEST cluster representatives: for every near-dup cluster, the
    * member a quality-aware curation pipeline actually keeps — the
    * highest-quality document (doc_id tiebreak), not the arbitrary
    * minimum id that [[clusterKeep]]'s canonical policy uses. The quality
    * score is the shared [[TextAnalysis.qualityScore]] mixture; both
    * engines evaluate the identical pinned-association double expression
    * (int/int ratios and fixed multipliers — bit-identical), so ranking
    * on it is cross-engine stable with the doc_id tiebreak closing any
    * exact-tie. `rep_differs` counts how often the quality policy
    * disagrees with keep-min-id — the measurable value of ranking. Plan:
    * the component relation is pair-participants only (≪ corpus), quality
    * is computed on a corpus scan that prunes to (doc_id, text), and the
    * windows run on the components-sized join. */
  def clusterReps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = components(spark, dir)
    val q = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id").as("qid"), col("quality_score"))
    val byComp = Window.partitionBy(col("component_root"))
    val w = byComp.orderBy(col("quality_score").desc, col("doc_id"))
    comp.join(q, col("doc_id") === col("qid"))
      .select(col("doc_id"), col("component_root"), col("quality_score"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cluster_size", count(lit(1)).over(byComp))
      .withColumn("min_doc", min(col("doc_id")).over(byComp))
      .filter(col("rn") === 1)
      .select(col("component_root"), col("cluster_size"),
        col("doc_id").as("rep_doc"), col("quality_score").as("rep_quality"),
        col("min_doc"), (col("doc_id") =!= col("min_doc")).as("rep_differs"))
  }

  val clusterRepsSql: String =
    s"""WITH RECURSIVE $componentsCoreSql,
       |comp AS (SELECT id AS doc_id, MIN(r) AS component_root
       |         FROM reach GROUP BY id),
       |q AS (
       |${TextAnalysis.qualityCoreSql}
       |),
       |j AS (SELECT c.doc_id, c.component_root, q.quality_score
       |      FROM comp c JOIN q USING (doc_id)),
       |w AS (SELECT *,
       |             ROW_NUMBER() OVER (PARTITION BY component_root
       |                                ORDER BY quality_score DESC, doc_id) AS rn,
       |             COUNT(*) OVER (PARTITION BY component_root) AS cluster_size,
       |             MIN(doc_id) OVER (PARTITION BY component_root) AS min_doc
       |      FROM j)
       |SELECT component_root, cluster_size, doc_id AS rep_doc,
       |       quality_score AS rep_quality, min_doc,
       |       doc_id <> min_doc AS rep_differs
       |FROM w
       |WHERE rn = 1
       |ORDER BY component_root""".stripMargin

  /** The CLUSTER-level dedup application: keep every document that is not
    * in a near-dup cluster, plus each cluster's canonical representative
    * (its minimum doc_id), labeled with how many documents it stands for —
    * the per-cluster keeper policy that [[keepSet]] approximates edge-wise.
    * Composition of [[components]] (fixpoint) with two broadcast-size joins
    * back to the corpus: the component relation is orders of magnitude
    * smaller than the corpus (only docs that appear in a verified pair), so
    * at 100 TB the corpus is scanned once and both joins broadcast. */
  def clusterKeep(spark: SparkSession, dir: String): DataFrame = {
    val comp = components(spark, dir)
    val sizes = comp.groupBy(col("component_root")).agg(count(lit(1)).as("cluster_size"))
    Tables.documents(spark, dir)
      .join(comp.withColumnRenamed("doc_id", "cid"), col("doc_id") === col("cid"), "left")
      .filter(col("component_root").isNull || col("component_root") === col("doc_id"))
      .join(sizes.withColumnRenamed("component_root", "root"),
        col("doc_id") === col("root"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        col("n_chars"))
  }

  val clusterKeepSql: String =
    s"""WITH RECURSIVE $componentsCoreSql,
       |comp AS (SELECT id AS doc_id, MIN(r) AS component_root
       |         FROM reach GROUP BY id),
       |sz AS (SELECT component_root, COUNT(*) AS cluster_size
       |       FROM comp GROUP BY 1)
       |SELECT d.doc_id,
       |       COALESCE(sz.cluster_size, 1) AS cluster_size,
       |       d.n_chars
       |FROM documents d
       |LEFT JOIN comp ON comp.doc_id = d.doc_id
       |LEFT JOIN sz ON sz.component_root = d.doc_id
       |WHERE comp.component_root IS NULL OR comp.component_root = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** DEDUP CASCADE — the staged funnel a production corpus build actually
    * runs, cheapest stage first so each later (more expensive) stage sees a
    * smaller corpus: (1) EXACT hash dedup collapses byte-identical copies,
    * (2) MinHash-LSH near-dup clusters keep one representative per lexical
    * component, (3) embedding-cosine clusters collapse paraphrases that
    * share no shingles. Stages compose: each keeps the minimum SURVIVING
    * doc of its group (a group whose canonical doc was removed upstream
    * promotes its next member — the subtlety that makes the cascade a real
    * composition, not three independent filters). Output is the per-stage
    * funnel: docs in, removed, out. Plan: each doc is tagged with the
    * highest stage it survives (three left joins against the stage keep
    * sets — two of which are the already-materialized component/cluster
    * artifacts), then ONE map-side-combined aggregate + a 3-row stack
    * projection; no scalar cross-joins, no BNLJ. At 100 TB the funnel is
    * the dedup dashboard: corpus-sized scans only in stage tags, cluster
    * relations orders of magnitude smaller. */
  def cascade(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // each stage's keep set is referenced twice (the next stage's input and
    // the final per-doc tag join) — persist so the chain runs once
    val s1 = docs.groupBy(md5(col("text")).as("k"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val comp = components(spark, dir) // doc_id → component_root (artifact)
    val s1c = s1.join(comp, Seq("doc_id"), "left")
    val keepLex = s1c.filter(col("component_root").isNotNull)
      .groupBy(col("component_root")).agg(min(col("doc_id")).as("keep_id"))
    val s2 = s1c.join(keepLex, Seq("component_root"), "left")
      .filter(col("component_root").isNull || col("doc_id") === col("keep_id"))
      .select(col("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sem = Similarity.semanticClusters(spark, dir)
      .select(col("vec_id").as("doc_id"), col("cluster_root"))
    val s2c = s2.join(sem, Seq("doc_id"), "left")
    val keepSem = s2c.filter(col("cluster_root").isNotNull)
      .groupBy(col("cluster_root")).agg(min(col("doc_id")).as("keep_id"))
    val s3 = s2c.join(keepSem, Seq("cluster_root"), "left")
      .filter(col("cluster_root").isNull || col("doc_id") === col("keep_id"))
      .select(col("doc_id"))
    docs.select(col("doc_id"))
      .join(s1.withColumn("in1", lit(1)), Seq("doc_id"), "left")
      .join(s2.withColumn("in2", lit(1)), Seq("doc_id"), "left")
      .join(s3.withColumn("in3", lit(1)), Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n0"), count(col("in1")).as("n1"),
        count(col("in2")).as("n2"), count(col("in3")).as("n3"))
      .selectExpr(
        """stack(3,
          |  '1_exact',    n0, n1,
          |  '2_minhash',  n1, n2,
          |  '3_semantic', n2, n3) AS (stage, docs_in, docs_out)""".stripMargin)
      .select(col("stage"), col("docs_in"),
        (col("docs_in") - col("docs_out")).as("docs_removed"), col("docs_out"))
  }

  val cascadeSql: String =
    s"""WITH RECURSIVE $componentsCoreSql,
       |comp AS (SELECT id AS doc_id, MIN(r) AS component_root
       |         FROM reach GROUP BY id),
       |s1 AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |s1c AS (SELECT s1.doc_id, comp.component_root
       |        FROM s1 LEFT JOIN comp USING (doc_id)),
       |keep_lex AS (SELECT component_root, MIN(doc_id) AS keep_id
       |             FROM s1c WHERE component_root IS NOT NULL GROUP BY 1),
       |s2 AS (SELECT doc_id FROM s1c LEFT JOIN keep_lex USING (component_root)
       |       WHERE component_root IS NULL OR doc_id = keep_id),
       |sem AS (SELECT vec_id AS doc_id, cluster_root FROM (
       |${graft.operators.Similarity.semanticClustersSql}
       |)),
       |s2c AS (SELECT s2.doc_id, sem.cluster_root
       |        FROM s2 LEFT JOIN sem USING (doc_id)),
       |keep_sem AS (SELECT cluster_root, MIN(doc_id) AS keep_id
       |             FROM s2c WHERE cluster_root IS NOT NULL GROUP BY 1),
       |s3 AS (SELECT doc_id FROM s2c LEFT JOIN keep_sem USING (cluster_root)
       |       WHERE cluster_root IS NULL OR doc_id = keep_id),
       |c AS (SELECT (SELECT COUNT(*) FROM documents) AS n0,
       |             (SELECT COUNT(*) FROM s1) AS n1,
       |             (SELECT COUNT(*) FROM s2) AS n2,
       |             (SELECT COUNT(*) FROM s3) AS n3)
       |SELECT stage, docs_in, docs_in - docs_out AS docs_removed, docs_out
       |FROM (SELECT '1_exact' AS stage, n0 AS docs_in, n1 AS docs_out FROM c
       |      UNION ALL SELECT '2_minhash', n1, n2 FROM c
       |      UNION ALL SELECT '3_semantic', n2, n3 FROM c)
       |ORDER BY stage""".stripMargin

  /** INCREMENTAL ingestion dedup: the "new batch" (a deterministic 1/10
    * hash slice of the corpus, standing in for today's crawl) is deduped
    * (a) within itself — min doc_id per normalized fingerprint — and
    * (b) against the existing corpus — LEFT ANTI join on fingerprint.
    * This is how a production pipeline actually runs dedup day over day:
    * never re-dedup the whole corpus, only the delta against the
    * fingerprint index. At 100 TB the "old" side is a materialized
    * fingerprint table (16-byte keys); the anti-join shuffles the NEW
    * batch only — cost scales with the delta, not the corpus. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val fp = md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), fp.as("fp"),
        pmod(hash60(col("doc_id").cast("string")), lit(10)).as("b"))
    val newKeep = docs.filter(col("b") === 9)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val oldFps = docs.filter(col("b") =!= 9).select(col("fp")).distinct()
    newKeep.join(oldFps, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
  }

  val incrementalSql: String =
    s"""WITH d AS (SELECT doc_id,
       |                  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
       |                  ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 10 AS b
       |           FROM documents),
       |nw AS (SELECT fp, MIN(doc_id) AS doc_id FROM d WHERE b = 9 GROUP BY fp),
       |old AS (SELECT DISTINCT fp FROM d WHERE b <> 9)
       |SELECT nw.doc_id, nw.fp
       |FROM nw
       |WHERE NOT EXISTS (SELECT 1 FROM old WHERE old.fp = nw.fp)
       |ORDER BY doc_id""".stripMargin

  /** INCREMENTAL MinHash-LSH: today's batch (the deterministic 1/10 hash
    * slice, same convention as [[incremental]]) near-dup-checked against
    * the STANDING LSH index — new-batch band rows probe the old corpus's
    * band table, plus a within-batch self-join; only candidates are
    * verified with exact Jaccard. This is LSH index MAINTENANCE, the
    * day-2 operation [[incremental]] performs for exact dedup: the
    * banding/probe cost scales with the DELTA (new bands × bucket
    * occupancy), never with corpus², and the old side is the already-
    * materialized signature artifact. The oracle states the correctness
    * contract directly: the result equals the FULL pipeline's verified
    * pairs restricted to pairs touching the new batch — incremental
    * maintenance finds exactly what a from-scratch rebuild would, at
    * delta cost. `is_cross` separates new-vs-corpus pairs from
    * within-batch ones (both engines compute it from the hash split). */
  def incrementalLsh(spark: SparkSession, dir: String): DataFrame = {
    val nPacks = (NumPerms / NumBands + 1) / 2
    val sig = minhashSignatures(spark, dir, NumPerms)
    val bands = bandsOf(sig, NumPerms, NumBands)
      .withColumn("nb", pmod(hash60(col("doc_id").cast("string")), lit(10)) === 9)
    val newB = bands.filter(col("nb"))
    val oldB = bands.filter(!col("nb"))
    val cross = newB.as("x")
      .join(oldB.as("y"), bandJoinCond(nPacks))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        lit(true).as("is_cross"))
    val within = newB.as("x")
      .join(newB.as("y"), bandJoinCond(nPacks) && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(false).as("is_cross"))
    val cand = cross.unionByName(within).distinct()
      // two consumers below (the semi-reduction's key set + the scoring
      // join) — persist so the band self-joins run once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exact-Jaccard verification, candidates only (the pipeline's tail).
    // Round-17 (guide §3.2): semi-reduce the corpus-sized shingle index to
    // the candidate docs ONCE — the former shape streamed the full index
    // through BOTH broadcast verification joins (two complete index scans
    // per run for a delta-sized candidate set). Scan cost now scales with
    // the delta, not 2× the corpus. (An earlier pre-reduction via a driver
    // collect measured slower.) Hint-free since round-18: the candidate
    // set is delta-sized only while LSH band buckets stay small — a hot
    // band bucket could grow it past broadcastable, and the explicit hint
    // bypassed AQE's size threshold (r17 ADVICE; same policy as
    // ref_integrity). AQE still picks a broadcast semi at bench scale.
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val shCand = shingleIndex(spark, dir)
      .join(candDocs, Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sz = docSizesFull(spark, dir)
    cand
      .join(shCand.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(shCand.as("cb"),
        col("doc_b") === col("cb.doc_id") && col("ca.h") === col("cb.h"))
      .groupBy(col("doc_a"), col("doc_b"), col("is_cross"))
      .agg(count(lit(1)).as("n_common"))
      .join(sz.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sz.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("is_cross"),
        (col("n_common").cast("double") / (col("za.n") + col("zb.n") - col("n_common")))
          .as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  /** Correctness contract as SQL: full-rebuild pairs restricted to those
    * touching the new batch, with `is_cross` from the same hash split. */
  val incrementalLshSql: String =
    s"""WITH full_pairs AS (
       |$minhashLshSql
       |),
       |nb AS (SELECT doc_id FROM documents
       |       WHERE ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 10 = 9)
       |SELECT doc_a, doc_b,
       |       (doc_a IN (SELECT doc_id FROM nb))
       |         <> (doc_b IN (SELECT doc_id FROM nb)) AS is_cross,
       |       jaccard
       |FROM full_pairs
       |WHERE doc_a IN (SELECT doc_id FROM nb)
       |   OR doc_b IN (SELECT doc_id FROM nb)
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Tokens per sub-document segment in [[paragraphDedup]]. */
  private val SegTokens = 20

  /** SUB-DOCUMENT (paragraph-level) dedup — the CCNet/Dolma line-dedup
    * stage: boilerplate repeats across documents that are not themselves
    * duplicates (headers, navigation, license blurbs), so dedup must run on
    * segments and the surviving document is REASSEMBLED from its kept
    * segments. Segments here are fixed 20-token windows (this corpus has no
    * newline structure; a real corpus splits on paragraph breaks — same
    * plan, different splitter). Keep-first is global corpus order
    * (doc_id, seg_idx).
    *
    * Scale shape: one pass tokenizes and slices segments map-side (array
    * projections, no explode-then-window over the token stream); the only
    * shuffle is the segment-hash exchange for the keep-first window — the
    * text itself never shuffles twice, and the per-doc reassembly aggregate
    * rides the same exchange back on doc_id. Grouping uses native
    * `xxhash64` (the hash never reaches the output; the oracle groups the
    * raw segment strings — equal groupings, not equal hashes). */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("seg_idx"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, (size(toks)-1) div $SegTokens)," +
          s" i -> array_join(slice(toks, i*$SegTokens+1, $SegTokens), ' '))"))
        .as(Seq("seg_idx", "seg")))
      .withColumn("h", xxhash64(col("seg")))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") === 1, length(col("seg")).cast("long"))
          .otherwise(0L)).as("chars_kept"))
      .withColumn("removed_frac",
        (col("n_segs") - col("n_kept")).cast("double") / col("n_segs"))
  }

  val paragraphDedupSql: String =
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
       |             FROM documents),
       |seg AS (SELECT doc_id, i AS seg_idx,
       |               array_to_string(list_slice(ts, i*$SegTokens+1,
       |                                          i*$SegTokens+$SegTokens), ' ') AS seg
       |        FROM tok, UNNEST(range(0, (len(ts)-1)//$SegTokens + 1)) AS u(i)),
       |r AS (SELECT doc_id, seg,
       |             row_number() OVER (PARTITION BY seg
       |                                ORDER BY doc_id, seg_idx) AS rn
       |      FROM seg)
       |SELECT doc_id, COUNT(*) AS n_segs,
       |       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(SUM(CASE WHEN rn = 1 THEN len(seg) ELSE 0 END) AS BIGINT)
       |         AS chars_kept,
       |       CAST(COUNT(*) - SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |         / COUNT(*) AS removed_frac
       |FROM r
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** CROSS-SOURCE OVERLAP MATRIX: the near-dup pair product rolled up to
    * (source, source) — the curation audit answering "which sources copy
    * from which" (mirror sites, scraped re-posts, boilerplate families)
    * before any per-source mixture weight is trusted. Reads the
    * MATERIALIZED `dedup_jaccard_pairs` artifact, so the audit costs two
    * projection joins and a tiny aggregate — never a recompute of the
    * pair detection; at warehouse scale the pair table is orders of
    * magnitude smaller than the corpus and the doc→source projection
    * joins hash on doc id (the pair side is already bucketed on doc_a).
    * The source pair is normalized with least/greatest so the matrix is
    * one triangle. Per cell: pair count, strong-pair count (j ≥ 0.5, an
    * int/int-double threshold — engine-safe), and min/max Jaccard
    * (order-independent extremes; a mean of doubles would be
    * partial-sum-order-dependent and is deliberately absent). */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    ngramJaccard(spark, dir)
      .join(src.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(src.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(
        least(col("sa.source"), col("sb.source")).as("source_lo"),
        greatest(col("sa.source"), col("sb.source")).as("source_hi"),
        col("jaccard"))
      .groupBy(col("source_lo"), col("source_hi"))
      .agg(
        count(lit(1)).as("n_pairs"),
        count(when(col("jaccard") >= 0.5, 1)).as("n_strong"),
        min(col("jaccard")).as("min_j"),
        max(col("jaccard")).as("max_j"))
  }

  val sourceOverlapSql: String =
    s"""WITH s AS (SELECT doc_id, source FROM documents),
       |p AS (SELECT * FROM (
       |$ngramJaccardSql
       |)),
       |cell AS (SELECT LEAST(sa.source, sb.source) AS source_lo,
       |                GREATEST(sa.source, sb.source) AS source_hi,
       |                jaccard
       |         FROM p
       |         JOIN s sa ON sa.doc_id = p.doc_a
       |         JOIN s sb ON sb.doc_id = p.doc_b)
       |SELECT source_lo, source_hi, COUNT(*) AS n_pairs,
       |       CAST(COUNT(CASE WHEN jaccard >= 0.5 THEN 1 END) AS BIGINT)
       |         AS n_strong,
       |       MIN(jaccard) AS min_j, MAX(jaccard) AS max_j
       |FROM cell
       |GROUP BY source_lo, source_hi
       |ORDER BY source_lo, source_hi""".stripMargin

  val all: Seq[Q] = Seq(
    Q("dedup_exact", exact(_, _).orderBy("doc_id"), Some(exactSql)),
    Q("dedup_incremental", incremental(_, _).orderBy("doc_id"), Some(incrementalSql)),
    Q("dedup_incremental_lsh", incrementalLsh(_, _).orderBy("doc_a", "doc_b"),
      Some(incrementalLshSql)),
    Q("dedup_fingerprint", fingerprint(_, _).orderBy("doc_id"), Some(fingerprintSql)),
    Q("dedup_ngram_jaccard", ngramJaccard(_, _).orderBy("doc_a", "doc_b"),
      Some(ngramJaccardSql)),
    Q("dedup_weighted_jaccard", weightedJaccard(_, _).orderBy("doc_a", "doc_b"),
      Some(weightedJaccardSql)),
    Q("dedup_containment", containment(_, _).orderBy("doc_a", "doc_b"),
      Some(containmentSql)),
    Q("dedup_minhash_lsh", minhashLsh(_, _).orderBy("doc_a", "doc_b"),
      Some(minhashLshSql)),
    Q("dedup_keep_set", keepSet(_, _).orderBy("doc_id"), Some(keepSetSql)),
    Q("dedup_lsh_recall", lshRecall(_, _).orderBy("n_truth"), Some(lshRecallSql)),
    Q("dedup_modality_agreement", modalityAgreement(_, _).orderBy("n_lexical"),
      Some(modalityAgreementSql)),
    Q("dedup_threshold_sweep", thresholdSweep(_, _).orderBy("threshold_pct"),
      Some(thresholdSweepSql)),
    Q("dedup_winnow_pairs", winnowPairs(_, _).orderBy("doc_a", "doc_b"),
      Some(winnowPairsSql)),
    Q("dedup_impact", impact(_, _).orderBy("n_docs"), Some(impactSql)),
    Q("dedup_components", components(_, _).orderBy("doc_id"), Some(componentsSql)),
    Q("dedup_cascade", cascade(_, _).orderBy("stage"), Some(cascadeSql)),
    Q("dedup_source_overlap", sourceOverlap(_, _).orderBy("source_lo", "source_hi"),
      Some(sourceOverlapSql)),
    Q("dedup_cluster_keep", clusterKeep(_, _).orderBy("doc_id"), Some(clusterKeepSql)),
    Q("dedup_cluster_reps", clusterReps(_, _).orderBy("component_root"),
      Some(clusterRepsSql)),
    Q("dedup_bbit_minhash", bbitMinhash(_, _).orderBy("method"),
      Some(bbitMinhashSql)),
    Q("dedup_name_edit", nameEdit(_, _).orderBy("name_a", "name_b"), Some(nameEditSql)),
    Q("dedup_name_edit_multiblock",
      nameEditMultiblock(_, _).orderBy("name_a", "name_b"),
      Some(nameEditMultiblockSql)),
    Q("dedup_simhash", simhash(_, _).orderBy("doc_id"), Some(simhashSql)),
    Q("dedup_simhash_pairs", simhashPairs(_, _).orderBy("doc_a", "doc_b"),
      Some(simhashPairsSql)),
    Q("dedup_paragraph", paragraphDedup(_, _).orderBy("doc_id"),
      Some(paragraphDedupSql)))
}
