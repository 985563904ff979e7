package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFns._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, n-gram-heuristic language ID, and winnowing-style
  * document fingerprinting. All per-document map-side work — no shuffle at
  * all until an ORDER BY; at 100 TB these run at scan speed.
  */
object TextAnalysis {

  private val OovVocabK = 1000

  /** OUT-OF-VOCABULARY rate per document against the corpus's own
    * top-[[OovVocabK]] vocabulary — the no-logarithm proxy for language-
    * model scorability (a doc of mostly rare/garbage tokens scores high;
    * clean prose scores near the corpus base rate). The classic unigram
    * cross-entropy needs `ln` (libm differs across engines — banned);
    * the OOV occurrence fraction ranks documents the same way for the
    * quality-gating use and is one int/int division. The vocabulary is
    * deterministic: top K by (count DESC, token ASC) — a total order, so
    * both engines pick the identical set. At 100 TB: one shuffle on token
    * (map-side-combined counts), the K-row vocabulary broadcasts into a
    * semi-join, one shuffle on doc_id — never a corpus×vocab join. */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(OovVocabK)
      .select(col("token"))
    val perDoc = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
    val inVocab = toks.join(vocab, Seq("token"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_in"))
    perDoc.join(inVocab, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_in"), lit(0L))).as("n_oov"),
        ((col("n_tokens") - coalesce(col("n_in"), lit(0L))).cast("double") /
          col("n_tokens")).as("oov_rate"))
  }

  val oovRateSql: String =
    s"""WITH tok AS (SELECT doc_id,
       |                    UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS token
       |             FROM documents),
       |vocab AS (SELECT token FROM (SELECT token, COUNT(*) AS cnt
       |                             FROM tok GROUP BY token)
       |          ORDER BY cnt DESC, token LIMIT $OovVocabK),
       |pd AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id),
       |iv AS (SELECT doc_id, COUNT(*) AS n_in FROM tok
       |       WHERE token IN (SELECT token FROM vocab)
       |       GROUP BY doc_id)
       |SELECT pd.doc_id, n_tokens,
       |       n_tokens - COALESCE(n_in, 0) AS n_oov,
       |       CAST(n_tokens - COALESCE(n_in, 0) AS DOUBLE) / n_tokens AS oov_rate
       |FROM pd LEFT JOIN iv ON iv.doc_id = pd.doc_id
       |ORDER BY pd.doc_id""".stripMargin

  /** Token + character counts (whitespace tokenizer). */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"),
        length(col("text")).as("n_chars_measured"),
        col("n_chars"))

  val tokenCountsSql: String =
    """SELECT doc_id,
      |       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
      |       CAST(length(text) AS INTEGER) AS n_chars_measured,
      |       n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** BPE-ish pre-tokenization pattern: letter runs, digit runs, and runs of
    * other non-space symbols — the GPT-2-style coarse split a byte-pair
    * tokenizer refines. Both Java regex (Spark) and RE2 (DuckDB) support
    * `\p{L}`/`\p{N}` with identical semantics on this pattern. */
  private val BpeTokenPattern = "\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]+"

  /** Token counting, tokenizer-style (the training-pipeline budget metric):
    * whitespace tokens vs BPE-ish pre-tokens per document, plus the
    * chars-per-token ratio that approximates real tokenizer cost. Pure
    * map-side regex — runs at scan speed, no shuffle before the ORDER BY. */
  def regexTokens(spark: SparkSession, dir: String): DataFrame = {
    val bpe = size(regexp_extract_all(col("text"), lit(BpeTokenPattern), lit(0)))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_ws_tokens"),
        bpe.as("n_bpe_tokens"),
        when(bpe > 0, length(col("text")).cast("double") / bpe)
          .as("chars_per_token"))
  }

  val regexTokensSql: String =
    s"""SELECT doc_id,
       |       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_ws_tokens,
       |       CAST(len(regexp_extract_all(text, '$BpeTokenPattern')) AS INTEGER) AS n_bpe_tokens,
       |       CASE WHEN len(regexp_extract_all(text, '$BpeTokenPattern')) > 0
       |            THEN CAST(length(text) AS DOUBLE)
       |                 / len(regexp_extract_all(text, '$BpeTokenPattern'))
       |       END AS chars_per_token
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Heuristic quality score from length / lexical-diversity / stopword
    * signals (the classic pre-training corpus filters). All ratios are
    * int/int divisions promoted to double — bit-identical across engines.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val stopArr = array(Stopwords.map(lit): _*)
    val nTok = size(toks).cast("double")
    val nUniq = size(array_distinct(toks)).cast("double")
    val nStop = size(filter(toks, t => array_contains(stopArr, t))).cast("double")
    val uniqRatio = nUniq / nTok
    val stopRatio = nStop / nTok
    val lenScore = least(nTok / lit(64.0), lit(1.0))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_unique_tokens"),
        uniqRatio.as("unique_ratio"),
        stopRatio.as("stopword_ratio"),
        (lenScore * 0.5 + uniqRatio * 0.3 + stopRatio * 0.2).as("quality_score"))
  }

  /** Shared SELECT (no ORDER BY) for the per-doc quality columns. */
  private[operators] val qualityCoreSql: String = {
    val toks = "regexp_split_to_array(trim(text), '\\s+')"
    val stopList = Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
       |       CAST(len($toks) AS INTEGER) AS n_tokens,
       |       CAST(len(list_distinct($toks)) AS INTEGER) AS n_unique_tokens,
       |       CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks) AS unique_ratio,
       |       CAST(len(list_filter($toks, t -> list_contains($stopList, t))) AS DOUBLE)
       |         / len($toks) AS stopword_ratio,
       |       least(CAST(len($toks) AS DOUBLE) / 64.0, 1.0) * 0.5
       |         + CAST(len(list_distinct($toks)) AS DOUBLE) / len($toks) * 0.3
       |         + CAST(len(list_filter($toks, t -> list_contains($stopList, t))) AS DOUBLE)
       |           / len($toks) * 0.2 AS quality_score
       |FROM documents""".stripMargin
  }

  val qualityScoreSql: String =
    s"""$qualityCoreSql
       |ORDER BY doc_id""".stripMargin

  private val QualityTau = 0.5
  private val SamplePct = 50

  /** Corpus curation funnel in ONE row: total docs → docs passing the
    * quality gate → gated docs surviving a deterministic [[SamplePct]]%
    * hash sample — the audit numbers a corpus build publishes per release
    * so downstream consumers can see exactly where documents went. A
    * single conditional aggregation: one pass, partial-aggregated
    * map-side, three longs cross the shuffle regardless of corpus size. */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val q = qualityScore(spark, dir).select(col("doc_id"), col("quality_score"))
    val gated = col("quality_score") >= QualityTau
    val sampled = gated &&
      pmod(hash60(col("doc_id").cast("string")), lit(100)) < SamplePct
    q.agg(
      count(lit(1)).as("n_total"),
      count(when(gated, 1)).as("n_quality_pass"),
      count(when(sampled, 1)).as("n_sampled"))
  }

  val curationFunnelSql: String =
    s"""SELECT COUNT(*) AS n_total,
       |       COUNT(CASE WHEN quality_score >= $QualityTau THEN 1 END) AS n_quality_pass,
       |       COUNT(CASE WHEN quality_score >= $QualityTau
       |                   AND ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 < $SamplePct
       |             THEN 1 END) AS n_sampled
       |FROM ($qualityCoreSql)""".stripMargin

  /** Marker words per language for the n-gram-heuristic language ID. */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "und", "ein"),
    "fr" -> Seq("le", "la", "et", "un"),
    "es" -> Seq("el", "los", "y", "una"))

  /** Language ID by marker-word hits, argmax with fixed tie-break order
    * (list order above). Deterministic; the synthetic corpus draws from one
    * shared vocabulary, so this demonstrates the operator rather than
    * recovering the `lang` label. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    // native one-pass scoring (round-17): each per-language
    // size(filter(...)) HOF was CodegenFallback, and the argmax when-chain
    // references every score several times, so the interpreted token scan
    // ran ~12× per row. MarkerScores counts all four marker sets in one
    // compiled pass; the chained select keeps the array materialized once
    // (multi-referenced, so CollapseProject cannot inline it), and the
    // argmax chain runs over plain INT element_ats.
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        graft.functions.TextFns.markerScores(
          tokens(col("text")), LangMarkers.map(_._2)).as("_sc"))
    val scores = LangMarkers.zipWithIndex.map { case ((langCode, _), i) =>
      langCode -> col("_sc").getItem(i)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val predicted = scores.reverse.foldLeft(lit("und")) {
      case (acc, (langCode, score)) => when(score === best && best > 0, langCode).otherwise(acc)
    }
    scored.select(
      Seq(col("doc_id")) ++
        scores.map { case (langCode, s) => s.as(s"score_$langCode") } ++
        Seq(predicted.as("predicted_lang"), col("lang").as("actual_lang")): _*)
  }

  val langIdSql: String = {
    val toks = "regexp_split_to_array(trim(text), '\\s+')"
    def scoreSql(markers: Seq[String]): String = {
      val list = markers.map(s => s"'$s'").mkString("[", ", ", "]")
      s"CAST(len(list_filter($toks, t -> list_contains($list, t))) AS INTEGER)"
    }
    val scoreCols = LangMarkers
      .map { case (langCode, m) => s"${scoreSql(m)} AS score_$langCode" }
      .mkString(",\n       ")
    val best = LangMarkers.map { case (_, m) => scoreSql(m) }
      .mkString("greatest(", ", ", ")")
    // same fixed tie-break order as the Spark side: first language in
    // LangMarkers whose score equals the max wins
    val predicted = LangMarkers.map { case (langCode, m) =>
      s"WHEN ${scoreSql(m)} = $best AND $best > 0 THEN '$langCode'"
    }.mkString("CASE ", " ", " ELSE 'und' END")
    s"""SELECT doc_id,
       |       $scoreCols,
       |       $predicted AS predicted_lang,
       |       lang AS actual_lang
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Winnowing-style fingerprint: minimum [[hash60]] over character 8-grams
    * plus the gram count — a rolling-hash document sketch usable for
    * containment checks.
    *
    * Computed as a pure PROJECTION (array_min over a transform of gram
    * hashes), not explode+groupBy: the min is per-document, so exploding
    * |text| gram rows into a hash-aggregate shuffle only to collapse them
    * back is wasted movement — this form touches each document once and
    * shuffles NOTHING (the plan has no Exchange before the ORDER BY).
    * The higher-order functions cost codegen for this one projection, but
    * the md5 work per gram is identical either way and the eliminated
    * 400×-row shuffle dominates: measured ~4× on this query. */
  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(length(col("text")) >= 8)
      .select(
        col("doc_id"),
        // native fused min (round-17): the HOF form materialized the whole
        // gram-hash array per row through interpreted lambdas just to take
        // its min; MinGramHash60 is the same hash-per-gram minimum as one
        // compiled loop with no array (WinnowFnsSpec pins bit-equality)
        graft.functions.TextFns.minGramHash60(col("text")).as("min_gram_hash"),
        (length(col("text")) - lit(7)).cast("long").as("n_grams"))

  val winnowFingerprintSql: String =
    s"""WITH grams AS (
       |  SELECT doc_id, UNNEST([substr(text, i, 8)
       |                         for i in range(1, greatest(length(text) - 6, 1))]) AS gram
       |  FROM documents WHERE length(text) >= 8)
       |SELECT doc_id, MIN(${hash60Sql("gram")}) AS min_gram_hash, COUNT(*) AS n_grams
       |FROM grams
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Corpus-wide top-20 bigrams: explode word 2-grams (Generator op) →
    * count → top-k. Partial aggregation collapses the exploded rows
    * map-side; TakeOrderedAndProject keeps k rows per partition. */
  def topBigrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(wordNGrams(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  val topBigramsSql: String =
    """WITH tok AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
      |bg AS (SELECT ts[i] || ' ' || ts[i+1] AS bigram
      |       FROM tok, UNNEST(range(1, greatest(len(ts), 1))) AS u(i))
      |SELECT bigram, COUNT(*) AS n
      |FROM bg
      |GROUP BY bigram
      |ORDER BY n DESC, bigram
      |LIMIT 20""".stripMargin

  /** The first step of BPE tokenizer induction: corpus-wide adjacent
    * character-pair frequencies, weighted by word frequency. BPE training
    * repeatedly merges the most frequent symbol pair; this operator computes
    * one merge round's candidate table (the top-20 pairs with the counts
    * that rank them). The scale shape is the important part: pair counting
    * runs over the DISTINCT-word frequency table (vocabulary-sized, Zipf:
    * orders of magnitude smaller than the token stream), never over the raw
    * corpus — the same two-level aggregation a production tokenizer trainer
    * uses. Char pairs come from the native [[CharNGrams]] generator (one
    * pass, codegen'd). */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    tf.filter(length(col("token")) >= 2)
      .select(col("cnt"), explode(charNGrams(col("token"), 2)).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("cnt")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(20)
  }

  val bpePairsSql: String =
    """WITH tok AS (
      |  SELECT UNNEST(regexp_split_to_array(trim(text), '\s+')) AS token
      |  FROM documents),
      |tf AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
      |p AS (SELECT substr(token, CAST(i AS INTEGER), 2) AS pair, cnt
      |      FROM tf, UNNEST(range(1, length(token))) AS u(i)
      |      WHERE length(token) >= 2)
      |SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
      |FROM p
      |GROUP BY pair
      |ORDER BY pair_count DESC, pair
      |LIMIT 20""".stripMargin

  /** ONE FULL BPE MERGE ITERATION — the training step [[bpePairs]] only
    * ranks candidates for: pick the globally best symbol pair (max
    * frequency-weighted count, lexicographic tiebreak), apply the merge to
    * every vocabulary word, and emit the post-merge top-20 pair table the
    * NEXT iteration would rank. Words are char-spaced symbol strings with
    * space sentinels (`"low"` → `" l o w "`); the merge is a plain string
    * `replace` of `" p1 p2 "` with `" p1p2 "` — leftmost non-overlapping
    * scan, identical semantics in Spark's UTF8String and DuckDB, run TWICE
    * because the first scan's consumed trailing sentinel blocks a
    * back-to-back occurrence (`" p1 p2 p1 p2 "` needs the second pass to
    * merge its right half; repeated-symbol runs resolve leftmost). Scale
    * shape: everything after the token-frequency aggregate is
    * VOCABULARY-sized (Zipf — orders of magnitude below the token
    * stream), the merge itself is a map-side projection, and the chosen
    * pair reaches the corpus-sized side as a broadcast of a 1-row
    * aggregate, never a collect-and-reparse. A production trainer loops
    * this exact round vocab-resident; each round is one cheap Spark job. */
  def bpeMerge(spark: SparkSession, dir: String): DataFrame = {
    // two consumers (argmax pass + merge projection) — materialized as an
    // artifact table, or the corpus tokenize + vocab aggregate runs twice;
    // an artifact rather than persist() so the memory is released when the
    // write finishes instead of being held for the session (round-9 advice)
    val seqs = graft.Artifacts.table(spark, dir, "text_bpe_vocab") {
      Tables.documents(spark, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .filter(length(col("token")) >= 2)
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .select(col("cnt"),
          concat(lit(" "), regexp_replace(col("token"), "(.)", "$1 ")).as("seq"))
    }
    def pairCounts(s: DataFrame): DataFrame = s
      .withColumn("a", split(trim(col("seq")), " "))
      .select(col("cnt"), explode(expr(
        """transform(sequence(1, size(a) - 1),
          |          i -> concat(element_at(a, i), ' ', element_at(a, i + 1)))"""
          .stripMargin)).as("pair"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("pair_count"))
    val best = pairCounts(seqs)
      .orderBy(col("pair_count").desc, col("pair")).limit(1)
      .select(col("pair").as("best_pair"))
    val merged = seqs.crossJoin(best)
      .select(col("cnt"),
        expr("""replace(replace(seq, concat(' ', best_pair, ' '),
                                concat(' ', replace(best_pair, ' ', ''), ' ')),
                        concat(' ', best_pair, ' '),
                        concat(' ', replace(best_pair, ' ', ''), ' '))""")
          .as("seq"),
        col("best_pair"))
    pairCounts(merged)
      .crossJoin(best)
      .select(col("pair"), col("pair_count"),
        expr("replace(best_pair, ' ', '')").as("applied_merge"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(20)
  }

  val bpeMergeSql: String =
    """WITH tok AS (
      |  SELECT UNNEST(regexp_split_to_array(trim(text), '\s+')) AS token
      |  FROM documents),
      |tf AS (SELECT token, COUNT(*) AS cnt FROM tok
      |       WHERE length(token) >= 2 GROUP BY 1),
      |sq AS (SELECT cnt,
      |              ' ' || regexp_replace(token, '(.)', '\1 ', 'g') AS seq
      |       FROM tf),
      |p1 AS (SELECT a[CAST(i AS INTEGER)] || ' ' || a[CAST(i AS INTEGER) + 1]
      |                AS pair, cnt
      |       FROM (SELECT cnt, regexp_split_to_array(trim(seq), ' ') AS a
      |             FROM sq),
      |            UNNEST(range(1, len(a))) AS u(i)),
      |pc1 AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS c
      |        FROM p1 GROUP BY 1),
      |best AS (SELECT pair AS best_pair FROM pc1
      |         ORDER BY c DESC, pair LIMIT 1),
      |m AS (SELECT s.cnt,
      |             replace(replace(s.seq, ' ' || b.best_pair || ' ',
      |                             ' ' || replace(b.best_pair, ' ', '') || ' '),
      |                     ' ' || b.best_pair || ' ',
      |                     ' ' || replace(b.best_pair, ' ', '') || ' ') AS seq
      |      FROM sq s, best b),
      |p2 AS (SELECT a[CAST(i AS INTEGER)] || ' ' || a[CAST(i AS INTEGER) + 1]
      |                AS pair, cnt
      |       FROM (SELECT cnt, regexp_split_to_array(trim(seq), ' ') AS a
      |             FROM m),
      |            UNNEST(range(1, len(a))) AS u(i)),
      |pc2 AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
      |        FROM p2 GROUP BY 1)
      |SELECT pc2.pair, pc2.pair_count,
      |       replace(b.best_pair, ' ', '') AS applied_merge
      |FROM pc2, best b
      |ORDER BY pair_count DESC, pair
      |LIMIT 20""".stripMargin

  private val RagChunkTokens = 128
  private val RagStride = 96 // 32-token overlap between consecutive chunks

  /** RAG-style OVERLAPPING CHUNK WINDOWS: each document split into
    * [[RagChunkTokens]]-token windows advancing by [[RagStride]] (32-token
    * overlap — the standard retrieval-chunking scheme so no sentence
    * straddles a hard boundary unseen). Emits one row per chunk with its
    * token span; the fan-out is a pure integer Generate next to the text
    * (same map-side discipline as the modality fan-outs). Number of chunks
    * = ceil(max(n−overlap, 1)/stride); the last chunk clamps to the token
    * count. Token-positioned content extraction composes downstream via
    * `slice(tokens, start, len)` — the spans here are the contract. */
  def ragChunks(spark: SparkSession, dir: String): DataFrame = {
    val overlap = RagChunkTokens - RagStride
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))
      .withColumn("n_chunks",
        expr(s"CAST((greatest(n_tokens - $overlap, 1) + ${RagStride - 1}) " +
          s"div $RagStride AS INT)"))
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .select(
        col("doc_id"), col("chunk_idx"), col("n_tokens"),
        (col("chunk_idx") * RagStride).as("tok_start"),
        least(col("chunk_idx") * RagStride + RagChunkTokens, col("n_tokens"))
          .as("tok_end"))
  }

  val ragChunksSql: String = {
    val overlap = RagChunkTokens - RagStride
    s"""WITH d AS (
       |  SELECT doc_id,
       |         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
       |  FROM documents),
       |g AS (SELECT doc_id, n_tokens,
       |             (greatest(n_tokens - $overlap, 1) + ${RagStride - 1})
       |               // $RagStride AS n_chunks
       |      FROM d)
       |SELECT doc_id,
       |       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       |       CAST(n_tokens AS INTEGER) AS n_tokens,
       |       CAST(chunk_idx * $RagStride AS INTEGER) AS tok_start,
       |       CAST(LEAST(chunk_idx * $RagStride + $RagChunkTokens, n_tokens)
       |            AS INTEGER) AS tok_end
       |FROM g, UNNEST(range(0, n_chunks)) AS u(chunk_idx)
       |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** N-GRAM NOVELTY per document: what fraction of a doc's distinct word
    * 3-grams appear NOWHERE else in the corpus — near 1 for genuinely novel
    * text, near 0 for template/boilerplate-derived docs; the inverse signal
    * of near-dup detection, used to score synthetic-data batches for mode
    * collapse. One inverted-index pass: distinct (doc, gram-hash) rows,
    * corpus df per hash (map-side-combinable aggregate), then a per-doc
    * ratio — every step is the same bounded shapes the dedup tier uses. */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    // the distinct (doc, 3-gram-hash) relation IS the dedup tier's
    // materialized shingle-index artifact — read it instead of rebuilding
    // the scan + explode + MD5
    val sh = Dedup.shingleIndex(spark, dir)
    // ONE corpus-index shuffle (round-17, guide §2.3): a gram with df = 1
    // has exactly one doc, so min(doc_id) on the df aggregate already
    // carries the attribution — no join of the df table back onto the
    // index (which re-shuffled the corpus-sized relation twice more just
    // to move a 1-bit flag). Per-doc gram totals come from the shared
    // doc-sizes artifact; docs whose grams are all shared get n_unique 0,
    // exactly what the old inner-join count(when df=1) produced.
    val uniq = sh.groupBy(col("h"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("d"))
      .filter(col("df") === 1)
      .groupBy(col("d")).agg(count(lit(1)).as("n_unique"))
    Dedup.docSizesFull(spark, dir)
      .select(col("doc_id"), col("n").as("n_grams"))
      .join(uniq, col("doc_id") === col("d"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        (coalesce(col("n_unique"), lit(0L)).cast("double") / col("n_grams"))
          .as("novelty"))
  }

  val noveltySql: String =
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
       |             FROM documents),
       |sh AS (SELECT DISTINCT doc_id, ${hash60Sql("s.g")} AS h
       |       FROM tok, UNNEST(${shingles3Sql("ts")}) AS s(g)),
       |df AS (SELECT h, COUNT(*) AS df FROM sh GROUP BY h)
       |SELECT doc_id, COUNT(*) AS n_grams,
       |       COUNT(CASE WHEN df = 1 THEN 1 END) AS n_unique,
       |       CAST(COUNT(CASE WHEN df = 1 THEN 1 END) AS DOUBLE) / COUNT(*)
       |         AS novelty
       |FROM sh JOIN df USING (h)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: flag corpus documents sharing any 5-gram
    * with a held-out "benchmark" set (here: every 97th doc, a deterministic
    * stand-in for an eval set; production loads the real benchmark's
    * n-grams). The overlap test is a semi-join-shaped equi-join on 60-bit
    * gram hashes — benchmark grams are tiny relative to the corpus and
    * broadcast, so the corpus is flagged in one scan + explode. This is the
    * standard contamination check a training pipeline runs before every
    * data release. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(wordNGrams(col("text"), 5)).as("g"))
      .select(col("doc_id"), hash60(col("g")).as("h"))
    val benchGrams = grams.filter(col("doc_id") % 97 === 0)
      .select(col("h")).distinct()
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(benchGrams, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlapping_grams"))
  }

  val contaminationSql: String =
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
       |             FROM documents),
       |g AS (SELECT doc_id,
       |             ${hash60Sql("ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]")} AS h
       |      FROM tok, UNNEST(range(1, greatest(len(ts) - 3, 1))) AS u(i)),
       |bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0)
       |SELECT doc_id, COUNT(*) AS n_overlapping_grams
       |FROM g JOIN bench USING (h)
       |WHERE doc_id % 97 <> 0
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** DECONTAMINATION APPLICATION — the corpus actually released after the
    * [[contamination]] check: benchmark slice held out, every flagged doc
    * dropped, everything else kept with its text mass. Mirrors the dedup
    * tier's keep-set shape (detector → LEFT ANTI application); at scale
    * the flagged set is tiny and broadcasts, so the release pass is one
    * corpus scan. The released-corpus relation is what ships — the
    * detector alone is just a report. */
  def decontaminateKeep(spark: SparkSession, dir: String): DataFrame = {
    val flagged = contamination(spark, dir).select(col("doc_id"))
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 97 =!= 0) // the held-out benchmark slice
      .join(flagged, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  val decontaminateKeepSql: String =
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
       |             FROM documents),
       |g AS (SELECT doc_id,
       |             ${hash60Sql("ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4]")} AS h
       |      FROM tok, UNNEST(range(1, greatest(len(ts) - 3, 1))) AS u(i)),
       |bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0),
       |flagged AS (SELECT DISTINCT doc_id FROM g JOIN bench USING (h)
       |            WHERE doc_id % 97 <> 0)
       |SELECT doc_id, lang, n_chars
       |FROM documents d
       |WHERE doc_id % 97 <> 0
       |  AND NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = d.doc_id)
       |ORDER BY doc_id""".stripMargin

  private val ShardTokenBudget = 2000L

  /** Token-budget sharding: split the corpus (in doc_id order) into
    * contiguous shards of ~[[ShardTokenBudget]] tokens — how a training
    * pipeline cuts a corpus into equal-budget chunks for distributed
    * tokenization/packing. shard_id = floor(preceding-cumulative-tokens /
    * budget): an exclusive running sum, row-gated by [[TwoPass.prefixSum]]
    * — the single-task global window below the gate (the oracle-serving
    * plan at every tested scale), the two-pass distributed prefix sum
    * (per-bucket subtotals + broadcast offsets) above it. TwoPassSpec
    * holds the regimes value-identical. */
  def tokenShards(spark: SparkSession, dir: String): DataFrame =
    tokenShardsWithGate(spark, dir, TwoPass.WindowGateRows)

  private[graft] def tokenShardsWithGate(
      spark: SparkSession, dir: String, gate: Long): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
    TwoPass.prefixSum(base, "doc_id", "n_tokens", "cum_before",
      Tables.rows(spark, dir, "documents"), gate)
      .select(col("doc_id"), col("n_tokens"),
        (col("cum_before") / ShardTokenBudget).cast("long").as("shard_id"))
  }

  val tokenShardsSql: String =
    s"""SELECT doc_id, n_tokens,
       |       CAST(FLOOR(cum_before / $ShardTokenBudget) AS BIGINT) AS shard_id
       |FROM (SELECT doc_id, n_tokens,
       |             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |      FROM (SELECT doc_id,
       |                   CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
       |                     AS n_tokens
       |            FROM documents))
       |ORDER BY doc_id""".stripMargin

  /** Corpus reporting rollup: doc counts and char-length stats per
    * (lang, source) — the inventory dashboard a corpus pipeline publishes
    * after every build. Exact integer sums; the average is one double
    * division of exact ints (identical in both engines). */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  val corpusStatsSql: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
      |       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  /** PII / identifier scrubbing: rewrite digit runs in a name field to a
    * `<ID>` placeholder and count what was masked — the regex-redaction op
    * every training pipeline runs before release (emails, phones, SSNs are
    * the same shape with bigger patterns). Pure map-side regexp_replace:
    * scan-speed at 100 TB, no shuffle before the ORDER BY. Run on the
    * customer dimension, the one table here carrying identifier-bearing
    * strings. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        col("c_custkey"),
        regexp_replace(col("c_name"), "[0-9]+", "<ID>").as("scrubbed_name"),
        (length(col("c_name")) - length(regexp_replace(col("c_name"), "[0-9]", "")))
          .as("n_digits_masked"))

  val piiScrubSql: String =
    """SELECT c_custkey,
      |       regexp_replace(c_name, '[0-9]+', '<ID>', 'g') AS scrubbed_name,
      |       CAST(length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g'))
      |            AS INTEGER) AS n_digits_masked
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  private val TfidfTopK = 3

  /** Per-document top-[[TfidfTopK]] salient terms, ranked by tf/df — the
    * document-frequency-normalized salience that tf·idf orders by (N is
    * constant corpus-wide, so ranking by tf·N/df ≡ ranking by tf/df; the
    * ratio keeps the score a single int/int division, bit-identical across
    * engines, where ln-based idf is at the mercy of each engine's libm).
    * Round-18 (guide §2.4/§3.1): the df side is an AGGREGATE + join back,
    * not a `COUNT(*) OVER (PARTITION BY term)` window — the window form
    * reshuffled the entire corpus-sized (doc, term, tf) relation by a
    * Zipf-hot term key and sorted it, where the aggregate map-side-combines
    * to the distinct-terms relation joined back. df per term is COUNT of
    * tf rows either way — exact
    * (TextSpec pins equality to the window form). Two shuffles remain:
    * the (doc, term) aggregation and the per-doc top-k window. */
  def tfidfTop(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(df, Seq("term"))
      .withColumn("salience", col("tf").cast("double") / col("df"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("salience").desc, col("term"))))
      .filter(col("rk") <= TfidfTopK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("salience"), col("rk"))
  }

  val tfidfTopSql: String =
    s"""WITH tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM (SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS term
       |        FROM documents)
       |  GROUP BY 1, 2),
       |wd AS (SELECT doc_id, term, tf,
       |              COUNT(*) OVER (PARTITION BY term) AS df
       |       FROM tf)
       |SELECT doc_id, term, tf, df,
       |       CAST(tf AS DOUBLE) / df AS salience,
       |       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
       |              ORDER BY CAST(tf AS DOUBLE) / df DESC, term) AS INTEGER) AS rk
       |FROM wd
       |QUALIFY rk <= $TfidfTopK
       |ORDER BY doc_id, rk""".stripMargin

  /** Per-doc RARE-BIGRAM signal: how many of a document's word bigrams
    * occur ≤ 2 times in the whole corpus — the integer-only face of LM
    * fluency scoring (rare transitions ≈ high perplexity ≈ junk or
    * boilerplate-free novelty, disambiguated downstream). All counts and
    * one int/int ratio: bit-identical across engines, where an actual
    * log-probability average would hit libm and summation-order issues.
    * Plan: corpus bigram counts (partial-agg'd) joined back to the per-doc
    * bigram relation; the count table is Zipf-shaped and the join key is
    * the 60-bit gram hash. */
  def rareBigrams(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(wordNGrams(col("text"), 2)).as("g"))
      .select(col("doc_id"), hash60(col("g")).as("h"))
    val corpusCounts = grams.groupBy(col("h")).agg(count(lit(1)).as("bc"))
    grams.join(corpusCounts, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        count(when(col("bc") <= 2, 1)).as("n_rare"),
        (count(when(col("bc") <= 2, 1)).cast("double") / count(lit(1)))
          .as("rare_ratio"))
  }

  val rareBigramsSql: String =
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
       |             FROM documents),
       |g AS (SELECT doc_id, ${hash60Sql("ts[i] || ' ' || ts[i+1]")} AS h
       |      FROM tok, UNNEST(range(1, greatest(len(ts), 1))) AS u(i)),
       |cc AS (SELECT h, COUNT(*) AS bc FROM g GROUP BY h)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |       COUNT(CASE WHEN bc <= 2 THEN 1 END) AS n_rare,
       |       CAST(COUNT(CASE WHEN bc <= 2 THEN 1 END) AS DOUBLE) / COUNT(*)
       |         AS rare_ratio
       |FROM g JOIN cc USING (h)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** BIGRAM LANGUAGE-MODEL quality score per document — the KenLM-style
    * fluency filter of a training pipeline, in pure integer arithmetic.
    * The corpus itself is the model: for each distinct bigram (w1,w2),
    * cond_bp = count(w1,w2)·10000 / count(w1 ·) in basis points (the MLE
    * conditional probability P(w2|w1), floored — both engines floor on
    * non-negative operands); a doc's score is the per-occurrence average
    * of cond_bp. Predictable/templated prose scores high, junk and novel
    * text low — ranks like the usual mean log-probability, with no `ln`
    * (libm differs across engines) and no float summation order.
    *
    * The scale shape is the point: the MODEL is a two-level aggregation —
    * bigram counts partial-agg'd off the token stream, then left-context
    * totals re-aggregated from the *bigram table* (vocabulary-sized, Zipf;
    * never a second corpus pass). Scoring is one shuffle join of the
    * per-doc bigram relation against the model on the 60-bit gram hash,
    * then a doc_id aggregate. At 100 TB: two map-side-combined shuffles
    * for the model, one for the scoring join — and a min-count cut makes
    * the model broadcastable when the vocabulary allows. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame =
    // two declared consumers (the per-doc scores themselves and the CCNet
    // bucket query below) → materialized once per (JVM, input dir)
    graft.Artifacts.table(spark, dir, "text_lm_scores")(bigramLmBuild(spark, dir))

  private[graft] def bigramLmBuild(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(wordNGrams(col("text"), 2)).as("g"))
      .select(col("doc_id"), hash60(col("g")).as("hb"),
        // a token never contains whitespace, so the first space splits the
        // 2-gram back into its left context exactly
        hash60(element_at(split(col("g"), " "), 1)).as("h1"))
    val m12 = grams.groupBy(col("hb"))
      .agg(min(col("h1")).as("h1"), count(lit(1)).as("c12"))
    val m1 = m12.groupBy(col("h1")).agg(sum(col("c12")).as("c1"))
    val model = m12.join(m1, "h1")
      .select(col("hb"), expr("(c12 * 10000) div c1").as("cond_bp"))
    grams.join(model, "hb")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(cond_bp) div count(1)").as("lm_score_bp"))
  }

  /** CCNet-style head/middle/tail bucketing: within each language, rank
    * documents by the bigram-LM fluency score ([[bigramLm]], read from its
    * artifact) and cut into terciles — `head` = most fluent third, the
    * slice CCNet keeps outright; `tail` = the third a pipeline drops or
    * re-scores. Per-language terciles matter because LM scores are not
    * comparable across languages (different corpus mass ⇒ different
    * conditional-probability floors).
    *
    * Plan shape: the per-doc score relation is doc-count-sized (not
    * token-count-sized) and already materialized; one broadcast-joined lang
    * lookup, one per-lang window rank, one 6-row aggregate. At 100 TB the
    * window is a per-lang range partition — no global order. */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("lm_score_bp").desc, col("doc_id"))
    bigramLm(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang"),
        col("n_chars")), "doc_id")
      .withColumn("bucket",
        when(ntile(3).over(w) === 1, lit("head"))
          .when(ntile(3).over(w) === 2, lit("middle"))
          .otherwise(lit("tail")))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        expr("sum(lm_score_bp) div count(1)").as("avg_score_bp"),
        min(col("lm_score_bp")).as("min_score_bp"),
        max(col("lm_score_bp")).as("max_score_bp"))
  }

  /** CROSS-FILTER AGREEMENT (Cohen's κ) between the two independent quality
    * detectors of this pipeline: the heuristic quality gate
    * (quality_score ≥ [[QualityTau]], as in the curation funnel) and the
    * LM fluency gate (per-lang perplexity tercile ≠ tail, as in the CCNet
    * buckets). κ corrects raw agreement for chance given each filter's
    * marginal keep-rate — the audit that tells a curator whether a second
    * filter adds signal (κ ≪ 1) or just re-measures the first (κ ≈ 1).
    * The confusion matrix is one map-side-combined conditional aggregate
    * over the doc-count-sized score relations (LM scores from the
    * materialized artifact); κ itself is arithmetic on five longs — the
    * whole audit is free at any corpus scale. po/pe/κ are doubles derived
    * from int/int fractions with the SAME expression tree in both engines
    * (identical IEEE ops on identical inputs). */
  def filterAgreement(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("lm_score_bp").desc, col("doc_id"))
    val lm = bigramLm(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        "doc_id")
      .select(col("doc_id"), (ntile(3).over(w) <= 2).as("lm_keep"))
    val q = qualityScore(spark, dir)
      .select(col("doc_id"), (col("quality_score") >= QualityTau).as("q_keep"))
    q.join(lm, "doc_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("q_keep") && col("lm_keep"), 1L).otherwise(0L))
          .as("n_both_keep"),
        sum(when(!col("q_keep") && !col("lm_keep"), 1L).otherwise(0L))
          .as("n_both_drop"),
        sum(when(col("q_keep") && !col("lm_keep"), 1L).otherwise(0L))
          .as("n_only_quality"),
        sum(when(!col("q_keep") && col("lm_keep"), 1L).otherwise(0L))
          .as("n_only_lm"))
      .withColumn("po",
        expr("cast(n_both_keep + n_both_drop as double) / n_docs"))
      .withColumn("pe",
        expr("(cast(n_both_keep + n_only_quality as double) / n_docs)" +
          " * (cast(n_both_keep + n_only_lm as double) / n_docs)" +
          " + (1.0 - cast(n_both_keep + n_only_quality as double) / n_docs)" +
          " * (1.0 - cast(n_both_keep + n_only_lm as double) / n_docs)"))
      .withColumn("kappa",
        expr("case when pe = 1.0 then null" +
          " else (po - pe) / (1.0 - pe) end"))
  }

  val filterAgreementSql: String =
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
       |             FROM documents),
       |g AS (SELECT doc_id, ${hash60Sql("ts[i] || ' ' || ts[i+1]")} AS hb,
       |             ${hash60Sql("ts[i]")} AS h1
       |      FROM tok, UNNEST(range(1, greatest(len(ts), 1))) AS u(i)),
       |m12 AS (SELECT hb, MIN(h1) AS h1, COUNT(*) AS c12 FROM g GROUP BY hb),
       |m1 AS (SELECT h1, SUM(c12) AS c1 FROM m12 GROUP BY h1),
       |m AS (SELECT hb, (c12 * 10000) // c1 AS cond_bp
       |      FROM m12 JOIN m1 USING (h1)),
       |scores AS (SELECT doc_id, CAST(SUM(cond_bp) // COUNT(*) AS BIGINT)
       |                    AS lm_score_bp
       |           FROM g JOIN m USING (hb)
       |           GROUP BY doc_id),
       |lm AS (SELECT s.doc_id,
       |              ntile(3) OVER (PARTITION BY d.lang
       |                             ORDER BY s.lm_score_bp DESC, s.doc_id) <= 2
       |                AS lm_keep
       |       FROM scores s JOIN documents d USING (doc_id)),
       |q AS (SELECT doc_id, quality_score >= $QualityTau AS q_keep
       |      FROM ($qualityCoreSql)),
       |conf AS (
       |  SELECT COUNT(*) AS n_docs,
       |         CAST(SUM(CASE WHEN q_keep AND lm_keep THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_both_keep,
       |         CAST(SUM(CASE WHEN NOT q_keep AND NOT lm_keep THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_both_drop,
       |         CAST(SUM(CASE WHEN q_keep AND NOT lm_keep THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_only_quality,
       |         CAST(SUM(CASE WHEN NOT q_keep AND lm_keep THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_only_lm
       |  FROM q JOIN lm USING (doc_id)),
       |p AS (SELECT *,
       |             CAST(n_both_keep + n_both_drop AS DOUBLE) / n_docs AS po,
       |             (CAST(n_both_keep + n_only_quality AS DOUBLE) / n_docs)
       |               * (CAST(n_both_keep + n_only_lm AS DOUBLE) / n_docs)
       |               + (1.0 - CAST(n_both_keep + n_only_quality AS DOUBLE) / n_docs)
       |               * (1.0 - CAST(n_both_keep + n_only_lm AS DOUBLE) / n_docs) AS pe
       |      FROM conf)
       |SELECT n_docs, n_both_keep, n_both_drop, n_only_quality, n_only_lm, po, pe,
       |       CASE WHEN pe = 1.0 THEN NULL
       |            ELSE (po - pe) / (1.0 - pe) END AS kappa
       |FROM p""".stripMargin

  val perplexityBucketsSql: String =
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
       |             FROM documents),
       |g AS (SELECT doc_id, ${hash60Sql("ts[i] || ' ' || ts[i+1]")} AS hb,
       |             ${hash60Sql("ts[i]")} AS h1
       |      FROM tok, UNNEST(range(1, greatest(len(ts), 1))) AS u(i)),
       |m12 AS (SELECT hb, MIN(h1) AS h1, COUNT(*) AS c12 FROM g GROUP BY hb),
       |m1 AS (SELECT h1, SUM(c12) AS c1 FROM m12 GROUP BY h1),
       |m AS (SELECT hb, (c12 * 10000) // c1 AS cond_bp
       |      FROM m12 JOIN m1 USING (h1)),
       |scores AS (SELECT doc_id, CAST(SUM(cond_bp) // COUNT(*) AS BIGINT)
       |                    AS lm_score_bp
       |           FROM g JOIN m USING (hb)
       |           GROUP BY doc_id),
       |ranked AS (
       |  SELECT d.lang, d.n_chars, s.lm_score_bp, s.doc_id,
       |         ntile(3) OVER (PARTITION BY d.lang
       |                        ORDER BY s.lm_score_bp DESC, s.doc_id) AS t
       |  FROM scores s JOIN documents d USING (doc_id))
       |SELECT lang,
       |       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |              ELSE 'tail' END AS bucket,
       |       COUNT(*) AS n_docs,
       |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |       CAST(SUM(lm_score_bp) // COUNT(*) AS BIGINT) AS avg_score_bp,
       |       MIN(lm_score_bp) AS min_score_bp,
       |       MAX(lm_score_bp) AS max_score_bp
       |FROM ranked
       |GROUP BY lang, bucket
       |ORDER BY lang, bucket""".stripMargin

  val bigramLmSql: String =
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
       |             FROM documents),
       |g AS (SELECT doc_id, ${hash60Sql("ts[i] || ' ' || ts[i+1]")} AS hb,
       |             ${hash60Sql("ts[i]")} AS h1
       |      FROM tok, UNNEST(range(1, greatest(len(ts), 1))) AS u(i)),
       |m12 AS (SELECT hb, MIN(h1) AS h1, COUNT(*) AS c12 FROM g GROUP BY hb),
       |m1 AS (SELECT h1, SUM(c12) AS c1 FROM m12 GROUP BY h1),
       |m AS (SELECT hb, (c12 * 10000) // c1 AS cond_bp
       |      FROM m12 JOIN m1 USING (h1))
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |       CAST(SUM(cond_bp) // COUNT(*) AS BIGINT) AS lm_score_bp
       |FROM g JOIN m USING (hb)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Character-class profile per document: alpha / digit / whitespace /
    * other counts and the alpha ratio — the cheap garbage detector (binary
    * junk, tables, code) that runs before any tokenization. Map-side regex
    * counting at scan speed. */
  def charClasses(spark: SparkSession, dir: String): DataFrame = {
    def without(pattern: String) =
      length(regexp_replace(col("text"), pattern, ""))
    val n = length(col("text"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        n.as("n_chars_total"),
        (n - without("[A-Za-z]")).as("n_alpha"),
        (n - without("[0-9]")).as("n_digit"),
        (n - without("\\s")).as("n_space"),
        when(n > 0, (n - without("[A-Za-z]")).cast("double") / n).as("alpha_ratio"))
  }

  val charClassesSql: String =
    """SELECT doc_id,
      |       CAST(length(text) AS INTEGER) AS n_chars_total,
      |       CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
      |            AS INTEGER) AS n_alpha,
      |       CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
      |            AS INTEGER) AS n_digit,
      |       CAST(length(text) - length(regexp_replace(text, '\s', '', 'g'))
      |            AS INTEGER) AS n_space,
      |       CASE WHEN length(text) > 0 THEN
      |         CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))
      |              AS DOUBLE) / length(text) END AS alpha_ratio
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Classifier-evaluation rollup: the (actual, predicted) confusion
    * matrix of [[langId]] with per-cell counts and the per-actual-language
    * share (int/int division) — how a pipeline audits its language-ID
    * stage against labeled data after every model change. One extra
    * aggregation over the langId projection. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    langId(spark, dir)
      .groupBy(col("actual_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_of_actual",
        col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("actual_lang"))))
  }

  val langConfusionSql: String = {
    // reuse the langId SELECT as a subquery, dropping its ORDER BY
    val core = langIdSql.replace("\nORDER BY doc_id", "")
    s"""WITH li AS ($core),
       |cm AS (SELECT actual_lang, predicted_lang, COUNT(*) AS n
       |       FROM li GROUP BY 1, 2)
       |SELECT actual_lang, predicted_lang, n,
       |       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY actual_lang)
       |         AS share_of_actual
       |FROM cm
       |ORDER BY actual_lang, predicted_lang""".stripMargin
  }

  /** Repetition quality signals (the Gopher-style repetition filters): per
    * document, the fraction of tokens taken by the single most frequent
    * token and the fraction of DUPLICATE word bigrams — the two cheapest
    * detectors of boilerplate/keyword-stuffed/looping text, which
    * length/stopword filters miss. Pure per-doc array expressions (the
    * token-frequency scan is O(unique × tokens) within one row) — map-side,
    * scan-speed, no shuffle. Ratios are int/int divisions promoted to
    * double: bit-identical across engines. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    // native one-pass stats (round-18): the top-token count was an
    // O(unique × tokens) CodegenFallback HOF scan per row and the bigram
    // distinct a second interpreted transform chain; TokenStats computes
    // both in one compiled hashmap pass (TokenStatsSpec pins equality).
    // The chained select materializes the array once — multi-referenced,
    // so CollapseProject cannot inline (duplicate) the call.
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("_toks"))
      .select(col("doc_id"),
        graft.functions.TextFns.tokenStats(col("_toks"), Nil).as("_st"),
        size(col("_toks")).as("n_tokens"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        (col("_st").getItem(0).cast("double") / col("n_tokens"))
          .as("top_token_frac"),
        when(col("n_tokens") > 1,
          (col("n_tokens") - 1 - col("_st").getItem(1)).cast("double") /
            (col("n_tokens") - 1))
          .otherwise(lit(0.0)).as("dup_bigram_frac"))
      .withColumn("repetitive",
        col("top_token_frac") > 0.2 || col("dup_bigram_frac") > 0.5)
  }

  val repetitionSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(len(ts) AS INTEGER) AS n_tokens,
      |       CAST(list_max(list_transform(list_distinct(ts),
      |              u -> len(list_filter(ts, x -> x = u)))) AS DOUBLE)
      |         / len(ts) AS top_token_frac,
      |       CASE WHEN len(ts) > 1 THEN
      |         CAST(len(ts) - 1 - len(list_distinct(
      |                [ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))])) AS DOUBLE)
      |           / (len(ts) - 1)
      |       ELSE 0.0 END AS dup_bigram_frac,
      |       (CAST(list_max(list_transform(list_distinct(ts),
      |               u -> len(list_filter(ts, x -> x = u)))) AS DOUBLE) / len(ts) > 0.2)
      |       OR (CASE WHEN len(ts) > 1 THEN
      |             CAST(len(ts) - 1 - len(list_distinct(
      |                    [ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))])) AS DOUBLE)
      |               / (len(ts) - 1)
      |           ELSE 0.0 END > 0.5) AS repetitive
      |FROM t
      |ORDER BY doc_id""".stripMargin

  /** Vocabulary-growth (Heaps'-law) statistics per source: corpus token
    * volume vs distinct vocabulary vs hapax legomena (tokens seen exactly
    * once) — the curves a corpus builder tracks to judge whether a source
    * is adding novel text or recycling itself. One explode + two
    * aggregations, both partial-aggregated; the shuffle carries (source,
    * token) term counts — vocabulary-bounded, not corpus-bounded. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    tf.groupBy(col("source"))
      .agg(
        sum(col("cnt")).as("total_tokens"),
        count(lit(1)).as("vocab_size"),
        count(when(col("cnt") === 1, 1)).as("n_hapax"))
      .select(
        col("source"), col("total_tokens"), col("vocab_size"), col("n_hapax"),
        (col("vocab_size").cast("double") / col("total_tokens")).as("type_token_ratio"),
        (col("n_hapax").cast("double") / col("vocab_size")).as("hapax_frac"))
  }

  val vocabGrowthSql: String =
    """WITH tok AS (
      |  SELECT source, UNNEST(regexp_split_to_array(trim(text), '\s+')) AS token
      |  FROM documents),
      |tf AS (SELECT source, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2)
      |SELECT source,
      |       CAST(SUM(cnt) AS BIGINT) AS total_tokens,
      |       COUNT(*) AS vocab_size,
      |       COUNT(CASE WHEN cnt = 1 THEN 1 END) AS n_hapax,
      |       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS type_token_ratio,
      |       CAST(COUNT(CASE WHEN cnt = 1 THEN 1 END) AS DOUBLE) / COUNT(*) AS hapax_frac
      |FROM tf
      |GROUP BY source
      |ORDER BY source""".stripMargin

  private val SpanN = 5

  /** DUPLICATED-SPAN coverage per document: the fraction (basis points) of a
    * doc's distinct word [[SpanN]]-grams that also occur in at least one
    * OTHER document — the span-level exact-substring-duplication signal a
    * training corpus is filtered on (long shared spans mark boilerplate,
    * mirrored articles, and licensing banners that survive document-level
    * dedup). Spans are keyed by their xxhash64, never the span text: at
    * 100 TB the shuffle carries 8-byte keys. The hash NEVER reaches the
    * output (only per-doc counts do), so the oracle does not need to
    * reproduce it — it groups the raw gram strings and lands on identical
    * counts; that is what frees this operator to use the fast native hash
    * instead of the MD5-derived [[hash60]]. Per-doc distinctness is an
    * `array_distinct` BEFORE the explode — map-side, no corpus-wide
    * distinct shuffle. Plan shape is the inverted-index family — a
    * map-side-combined document-frequency aggregate over the hash, and one
    * join back keyed on the hash; no self-join, no pair enumeration, so a
    * stop-span shared by a million docs costs one aggregate row, not 10¹²
    * pairs. Docs shorter than [[SpanN]] tokens have no spans and drop out
    * (both engines agree).
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(wordNGrams(col("text"), SpanN))).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    // ONE span-stream shuffle (round-17, guide §2.3 — the text_novelty
    // trick): a span with df = 1 has exactly one doc, so min(doc_id) on
    // the df aggregate attributes it — no join of the df table back onto
    // the span stream. dup_spans = n_spans − n_unique, the complement of
    // the old count(when n_docs >= 2) over the inner join.
    val uniq = spans.groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("d"))
      .filter(col("n_docs") === 1)
      .groupBy(col("d")).agg(count(lit(1)).as("n_unique"))
    spans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
      .join(uniq, col("doc_id") === col("d"), "left")
      .select(col("doc_id"), col("n_spans"),
        (col("n_spans") - coalesce(col("n_unique"), lit(0L))).as("dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("dup_spans"),
        expr("(dup_spans * 10000) div n_spans").as("dup_bp"))
  }

  val dupSpansSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
       |  FROM documents),
       |spans AS (SELECT DISTINCT doc_id, s.g
       |          FROM tok, UNNEST(${shinglesNSql("ts", SpanN)}) AS s(g)),
       |df AS (SELECT g, COUNT(*) AS n_docs FROM spans GROUP BY g)
       |SELECT doc_id, COUNT(*) AS n_spans,
       |       COUNT(CASE WHEN n_docs >= 2 THEN 1 END) AS dup_spans,
       |       (COUNT(CASE WHEN n_docs >= 2 THEN 1 END) * 10000) // COUNT(*)
       |         AS dup_bp
       |FROM spans JOIN df USING (g)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** GOPHER-STYLE RULE FILTERS (Rae et al. 2021 §A1.1, re-thresholded for
    * this corpus): five independent per-document keep rules, each an exact
    * INTEGER comparison so the keep/drop boundary is bit-identical across
    * engines (`3·n ≤ chars ≤ 10·n` instead of `3 ≤ chars/n ≤ 10`, etc.).
    * Everything is a map-side projection over the tokenized text — one
    * scan, no shuffle, embarrassingly parallel at any corpus size. The
    * dominance rule's per-doc distinct×filter pass is O(len²) in the doc's
    * OWN token count — bounded work per row, never cross-document.
    *   - word count within [50, 100000]
    *   - mean token length within [3, 10]  (3n ≤ Σlen ≤ 10n)
    *   - short-token (≤2 chars) fraction < 20 %  (5·n_short < n)
    *   - ≥ 2 stopword occurrences
    *   - most frequent token ≤ 20 % of the doc  (5·max_tok ≤ n)
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val ts = tokens(col("text"))
    // native one-pass stats (round-18): the five per-rule HOF scans —
    // worst of them the O(unique × tokens) dominance count — were
    // CodegenFallback; TokenStats computes all of them in one compiled
    // hashmap pass (TokenStatsSpec pins equality). Chained select keeps
    // the stats array materialized once (multi-referenced, so
    // CollapseProject cannot inline it).
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(ts).as("n_words"),
        graft.functions.TextFns.tokenStats(ts, Stopwords).as("_st"))
      .select(
        col("doc_id"),
        col("n_words"),
        col("_st").getItem(2).as("n_tok_chars"),
        col("_st").getItem(3).as("n_short"),
        col("_st").getItem(4).as("n_stop"),
        col("_st").getItem(0).as("max_tok_count"))
      .withColumn("r_word_count",
        col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("r_mean_len",
        col("n_tok_chars") >= col("n_words") * 3 &&
          col("n_tok_chars") <= col("n_words") * 10)
      .withColumn("r_short_frac", col("n_short") * 5 < col("n_words"))
      .withColumn("r_stopwords", col("n_stop") >= 2)
      .withColumn("r_dominance", col("max_tok_count") * 5 <= col("n_words"))
      .withColumn("gopher_pass",
        col("r_word_count") && col("r_mean_len") && col("r_short_frac") &&
          col("r_stopwords") && col("r_dominance"))
  }

  val gopherRulesSql: String = {
    val stopList = Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
       |             FROM documents),
       |m AS (SELECT doc_id,
       |             CAST(len(ts) AS INTEGER) AS n_words,
       |             CAST(list_sum(list_transform(ts, t -> length(t)))
       |               AS INTEGER) AS n_tok_chars,
       |             CAST(len(list_filter(ts, t -> length(t) <= 2))
       |               AS INTEGER) AS n_short,
       |             CAST(len(list_filter(ts, t -> list_contains($stopList, t)))
       |               AS INTEGER) AS n_stop,
       |             CAST(list_max(list_transform(list_distinct(ts),
       |               d -> len(list_filter(ts, t -> t = d))))
       |               AS INTEGER) AS max_tok_count
       |      FROM tok)
       |SELECT doc_id, n_words, n_tok_chars, n_short, n_stop, max_tok_count,
       |       n_words >= 50 AND n_words <= 100000 AS r_word_count,
       |       n_tok_chars >= n_words * 3 AND n_tok_chars <= n_words * 10
       |         AS r_mean_len,
       |       n_short * 5 < n_words AS r_short_frac,
       |       n_stop >= 2 AS r_stopwords,
       |       max_tok_count * 5 <= n_words AS r_dominance,
       |       (n_words >= 50 AND n_words <= 100000)
       |         AND (n_tok_chars >= n_words * 3 AND n_tok_chars <= n_words * 10)
       |         AND (n_short * 5 < n_words) AND (n_stop >= 2)
       |         AND (max_tok_count * 5 <= n_words) AS gopher_pass
       |FROM m
       |ORDER BY doc_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("text_repetition", repetition(_, _).orderBy("doc_id"), Some(repetitionSql)),
    Q("text_dup_spans", dupSpans(_, _).orderBy("doc_id"), Some(dupSpansSql)),
    Q("text_vocab_growth", vocabGrowth(_, _).orderBy("source"), Some(vocabGrowthSql)),
    Q("text_token_counts", tokenCounts(_, _).orderBy("doc_id"), Some(tokenCountsSql)),
    Q("text_oov_rate", oovRate(_, _).orderBy("doc_id"), Some(oovRateSql)),
    Q("text_regex_tokens", regexTokens(_, _).orderBy("doc_id"), Some(regexTokensSql)),
    Q("text_top_bigrams", topBigrams, Some(topBigramsSql)),
    Q("text_bpe_pairs", bpePairs, Some(bpePairsSql)),
    Q("text_bpe_merge", bpeMerge, Some(bpeMergeSql)),
    Q("text_novelty", novelty(_, _).orderBy("doc_id"), Some(noveltySql)),
    Q("text_rag_chunks", ragChunks(_, _).orderBy("doc_id", "chunk_idx"),
      Some(ragChunksSql)),
    Q("text_quality_score", qualityScore(_, _).orderBy("doc_id"), Some(qualityScoreSql)),
    Q("text_lang_id", langId(_, _).orderBy("doc_id"), Some(langIdSql)),
    Q("text_winnow_fingerprint", winnowFingerprint(_, _).orderBy("doc_id"),
      Some(winnowFingerprintSql)),
    Q("text_corpus_stats", corpusStats(_, _).orderBy("lang", "source"),
      Some(corpusStatsSql)),
    Q("text_decontaminate_keep", decontaminateKeep(_, _).orderBy("doc_id"),
      Some(decontaminateKeepSql)),
    Q("text_contamination", contamination(_, _).orderBy("doc_id"),
      Some(contaminationSql)),
    Q("text_token_shards", tokenShards(_, _).orderBy("doc_id"),
      Some(tokenShardsSql)),
    Q("text_pii_scrub", piiScrub(_, _).orderBy("c_custkey"), Some(piiScrubSql)),
    Q("text_tfidf_top", tfidfTop(_, _).orderBy("doc_id", "rk"), Some(tfidfTopSql)),
    Q("text_curation_funnel", curationFunnel, Some(curationFunnelSql)),
    Q("text_char_classes", charClasses(_, _).orderBy("doc_id"), Some(charClassesSql)),
    Q("text_rare_bigrams", rareBigrams(_, _).orderBy("doc_id"), Some(rareBigramsSql)),
    Q("text_bigram_lm", bigramLm(_, _).orderBy("doc_id"), Some(bigramLmSql)),
    Q("text_lang_confusion", langConfusion(_, _).orderBy("actual_lang", "predicted_lang"),
      Some(langConfusionSql)),
    Q("text_perplexity_buckets", perplexityBuckets(_, _).orderBy("lang", "bucket"),
      Some(perplexityBucketsSql)),
    Q("text_filter_agreement", filterAgreement(_, _), Some(filterAgreementSql)),
    Q("text_gopher_rules", gopherRules(_, _).orderBy("doc_id"),
      Some(gopherRulesSql)))

}
