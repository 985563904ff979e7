package graft.operators

import graft.{Q, Tables}
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines. Everything here is
  * HASH-mod sampling, not RNG sampling (`df.sample`): the sample is a pure
  * function of the row's identity, so it is reproducible across runs,
  * engines, partitionings, and cluster sizes — the property a corpus build
  * needs for auditable train/val/test membership and for re-running a
  * pipeline without silently re-drawing the sample. (Spark's seeded
  * `sample` is partitioning-dependent; a DuckDB oracle could never
  * reproduce it.) All map-side, scan-speed; the balanced variant adds one
  * shuffle on the stratum key.
  */
object Sampling {

  /** 0..99 bucket from the 60-bit MD5-derived hash of the row id. */
  private def bucket(c: Column): Column = pmod(hash60(c.cast("string")), lit(100))

  private def bucketSql(sql: String): String =
    s"${hash60Sql(s"CAST($sql AS VARCHAR)")} % 100"

  /** Train/val/test split assignment (80/10/10) per document — membership
    * derives from the doc_id hash alone. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        when(bucket(col("doc_id")) < 80, "train")
          .when(bucket(col("doc_id")) < 90, "val")
          .otherwise("test").as("split"))

  val splitAssignSql: String =
    s"""SELECT doc_id, lang,
       |       CASE WHEN ${bucketSql("doc_id")} < 80 THEN 'train'
       |            WHEN ${bucketSql("doc_id")} < 90 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  /** K-FOLD cross-validation assignment with its balance audit: every doc
    * lands in one of 5 hash-derived folds, and the output is the
    * fold × lang contingency matrix — the check that folds are exchangeable
    * BEFORE any model sees them (a skewed fold invalidates the CV
    * estimate). Assignment derives from the id hash alone, so folds are
    * stable under corpus growth and reproducible on any cluster; the audit
    * is one map-side-combinable aggregate. */
  def kfoldBalance(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        pmod(hash60(concat(lit("fold:"), col("doc_id").cast("string"))), lit(5))
          .as("fold"))
      .groupBy(col("fold"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))

  val kfoldBalanceSql: String =
    s"""SELECT ${hash60Sql("'fold:' || CAST(doc_id AS VARCHAR)")} % 5 AS fold,
       |       lang, COUNT(*) AS n_docs
       |FROM documents
       |GROUP BY 1, 2
       |ORDER BY fold, lang""".stripMargin

  /** Deterministic ~10% corpus sample (bucket < 10). */
  def hashSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(bucket(col("doc_id")) < 10)
      .select(col("doc_id"), col("lang"), col("n_chars"))

  val hashSampleSql: String =
    s"""SELECT doc_id, lang, n_chars
       |FROM documents
       |WHERE ${bucketSql("doc_id")} < 10
       |ORDER BY doc_id""".stripMargin

  private val PerStratumCap = 50

  /** Stratum-balanced downsample: at most [[PerStratumCap]] docs per lang,
    * picked as the lowest doc-hashes (a deterministic "reservoir" — the
    * kept set is stable under corpus growth except where new docs hash
    * below the current cutoff). Window top-k per stratum: one shuffle on
    * lang, no global sort. */
  def balancedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(hash60(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= PerStratumCap)
  }

  val balancedSampleSql: String =
    s"""SELECT lang, doc_id, rk FROM (
       |  SELECT lang, doc_id,
       |         CAST(ROW_NUMBER() OVER (
       |           PARTITION BY lang
       |           ORDER BY ${hash60Sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS INTEGER) AS rk
       |  FROM documents)
       |WHERE rk <= $PerStratumCap
       |ORDER BY lang, rk""".stripMargin

  private val PerDomainCap = 20

  /** Per-domain document cap: at most [[PerDomainCap]] docs per source
    * domain, keeping the lowest doc_ids (ingestion order — "first N seen",
    * the usual web-corpus anti-spam cap; contrast [[balancedSample]], which
    * keeps a hash-random subset). A dominant crawl domain contributing 10⁹
    * pages must not dominate the corpus; the window top-k form is one
    * shuffle on source with per-partition early pruning (rank > cap rows
    * never leave the sort), no global sort. */
  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= PerDomainCap)
  }

  val domainCapSql: String =
    s"""SELECT source, doc_id, n_chars, rk FROM (
       |  SELECT source, doc_id, n_chars,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS INTEGER) AS rk
       |  FROM documents)
       |WHERE rk <= $PerDomainCap
       |ORDER BY source, rk""".stripMargin

  /** SIZE-BIASED deterministic sampling: a document's keep-probability is
    * proportional to its length (n_chars / max corpus length), realized by
    * comparing its id-hash bucket against its own scaled threshold — long
    * documents are kept preferentially, the length-balancing lever when a
    * token budget should favor information-dense docs. Still a pure
    * function of (row identity, corpus max): reproducible anywhere. The
    * corpus max is a one-row aggregate joined back, not a driver constant.
    * All-integer threshold math (n_chars * 1000 div max) — no float
    * boundary risk. */
  def sizeBiased(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mx = docs.agg(max(col("n_chars")).as("max_chars"))
    docs.crossJoin(mx)
      .withColumn("threshold",
        expr("(n_chars * 1000) div max_chars")) // 0..1000 per-mille
      .filter(pmod(hash60(col("doc_id").cast("string")), lit(1000)) < col("threshold"))
      .select(col("doc_id"), col("n_chars"), col("threshold").cast("long").as("threshold"))
  }

  val sizeBiasedSql: String =
    s"""WITH mx AS (SELECT MAX(n_chars) AS max_chars FROM documents)
       |SELECT doc_id, n_chars,
       |       CAST((n_chars * 1000) // max_chars AS BIGINT) AS threshold
       |FROM documents, mx
       |WHERE ${bucketSqlK("doc_id", 1000)} < (n_chars * 1000) // max_chars
       |ORDER BY doc_id""".stripMargin

  /** 0..k-1 bucket SQL for an id column. */
  private def bucketSqlK(sql: String, k: Int): String =
    s"${hash60Sql(s"CAST($sql AS VARCHAR)")} % $k"

  private val PriorityK = 8

  /** WEIGHTED FIXED-K sampling without replacement, stratified by language:
    * each doc draws the deterministic priority hash(doc_id) / weight
    * (weight = n_chars — integer division, both engines floor on
    * non-negative operands) and the [[PriorityK]] LOWEST priorities per
    * stratum win. A doc with twice the weight halves its priority scale, so
    * inclusion odds are weight-proportional — the classic priority-sampling
    * scheme, with the hash as the uniform draw so membership is a pure
    * function of identity (reproducible across runs/engines/partitionings,
    * unlike RNG reservoir sampling). Complements [[sizeBiased]] (Bernoulli,
    * expected-size) with the budgeted form: exactly k docs per stratum.
    * At scale: `WindowGroupLimit` pre-filters each map task to k rows per
    * stratum before the single shuffle on lang — never a global sort. */
  def weightedPriority(spark: SparkSession, dir: String): DataFrame = {
    val pri = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        hash60(col("doc_id").cast("string")).as("h"))
      .withColumn("priority", expr("h div greatest(n_chars, 1)"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("priority"), col("doc_id"))
    pri.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= PriorityK)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"),
        col("priority"))
  }

  val weightedPrioritySql: String =
    s"""WITH pri AS (
       |  SELECT doc_id, lang, n_chars,
       |         ${hash60Sql("CAST(doc_id AS VARCHAR)")}
       |           // greatest(n_chars, 1) AS priority
       |  FROM documents)
       |SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id, n_chars, priority
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
       |                                   ORDER BY priority, doc_id) AS rk
       |      FROM pri)
       |WHERE rk <= $PriorityK
       |ORDER BY lang, rk""".stripMargin

  /** TARGET-MIXTURE resampling weights: for each language stratum, the
    * repeat factor (in basis points) that reweights the corpus to a UNIFORM
    * language mix — the data-mixture lever of a training pipeline (a corpus
    * 44% en / 13% zh trains a very different model than the uniform mix the
    * curriculum asked for). `repeat_bp` = target_count / actual_count where
    * target_count = total/n_langs: languages over-represented get < 10000
    * (downsample), under-represented get > 10000 (repeat epochs);
    * `planned_docs` is the stratum's size after applying the factor. All
    * ratios are integer basis points (floor on non-negative operands — both
    * engines agree), never a float boundary. One map-side-combinable
    * aggregate over the corpus + a one-row total: scan-speed at 100 TB,
    * and the output (one row per language) feeds the actual resampler as a
    * broadcast dim. */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val byLang = Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
    val tot = byLang.agg(
      sum(col("n_docs")).as("total_docs"), count(lit(1)).as("n_langs"))
    byLang.crossJoin(tot)
      .select(col("lang"), col("n_docs"), col("n_chars"),
        expr("(n_docs * 10000) div total_docs").as("share_bp"),
        expr("(total_docs * 10000) div (n_langs * n_docs)").as("repeat_bp"),
        expr("(n_docs * ((total_docs * 10000) div (n_langs * n_docs))) div 10000")
          .as("planned_docs"))
  }

  val mixtureWeightsSql: String =
    """WITH by_lang AS (SELECT lang, COUNT(*) AS n_docs,
      |                        CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |                 FROM documents GROUP BY lang),
      |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
      |               COUNT(*) AS n_langs FROM by_lang)
      |SELECT lang, n_docs, n_chars,
      |       (n_docs * 10000) // total_docs AS share_bp,
      |       (total_docs * 10000) // (n_langs * n_docs) AS repeat_bp,
      |       (n_docs * ((total_docs * 10000) // (n_langs * n_docs))) // 10000
      |         AS planned_docs
      |FROM by_lang, tot
      |ORDER BY lang""".stripMargin

  /** MIXTURE APPLICATION: materialize the [[mixtureWeights]] plan as a
    * per-document COPY COUNT — the step that turns a target mixture into
    * an actual training corpus. A language with `repeat_bp` basis points
    * gets `repeat_bp div 10000` whole epochs of every document plus one
    * extra copy for the deterministic hash slice `h < repeat_bp mod 10000`
    * (h = doc-id hash in [0, 10000)): over-represented languages thin to a
    * reproducible subset, under-represented ones up-sample by integer
    * repetition — exactly how LLM data mixtures are realized, with no RNG
    * anywhere (re-running the build re-draws the identical corpus; an
    * auditor can test any doc's membership from its id alone). Map-side
    * per doc after one broadcast join of the per-lang weights. The whole-
    * epoch part realizes exactly; the fractional epoch is a deterministic
    * hash slice whose size is binomial around the plan (σ ≤ √n/2) — the
    * realized per-lang totals match `planned_docs` in expectation. */
  def mixtureApply(spark: SparkSession, dir: String): DataFrame = {
    val w = mixtureWeights(spark, dir).select(col("lang"), col("repeat_bp"))
    Tables.documents(spark, dir)
      // kept: sf0.01-sf1 broadcast the documents without it; sf1 5/6 slower
      .join(broadcast(w), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        pmod(hash60(concat(lit("mix:"), col("doc_id").cast("string"))), lit(10000))
          .as("h"),
        col("repeat_bp"))
      .select(col("doc_id"), col("lang"),
        (expr("repeat_bp div 10000") +
          when(col("h") < expr("repeat_bp % 10000"), 1L).otherwise(0L))
          .as("n_copies"))
      .filter(col("n_copies") > 0)
  }

  val mixtureApplySql: String =
    s"""WITH by_lang AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
       |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
       |               COUNT(*) AS n_langs FROM by_lang),
       |w AS (SELECT lang, (total_docs * 10000) // (n_langs * n_docs) AS repeat_bp
       |      FROM by_lang, tot)
       |SELECT doc_id, d.lang,
       |       repeat_bp // 10000 +
       |         (CASE WHEN ${hash60Sql("'mix:' || CAST(doc_id AS VARCHAR)")} % 10000
       |                    < repeat_bp % 10000 THEN 1 ELSE 0 END) AS n_copies
       |FROM documents d JOIN w ON w.lang = d.lang
       |WHERE repeat_bp // 10000 +
       |        (CASE WHEN ${hash60Sql("'mix:' || CAST(doc_id AS VARCHAR)")} % 10000
       |                   < repeat_bp % 10000 THEN 1 ELSE 0 END) > 0
       |ORDER BY doc_id""".stripMargin

  private val CurriculumPhases = 4

  /** CURRICULUM PHASES: the corpus cut into [[CurriculumPhases]] quality
    * tiers (ntile over the deterministic per-doc quality score, highest
    * first — phase 1 is what an anneal/cooldown stage trains on last), with
    * each phase's doc count, token budget, and quality range. The ranking
    * key is the oracle-checked `quality_score` with doc_id tiebreak, so the
    * assignment is exactly reproducible; phase stats aggregate integers
    * (token sums) and order-independent min/max — no float accumulation.
    * The per-doc relation is corpus-sized, so the tile assignment is
    * row-gated by [[TwoPass.ntileDesc]]: the single-task global ntile
    * below the gate (the oracle-serving plan at every tested scale), the
    * exact two-pass rank form (score-bucketed row_number + broadcast
    * bucket offsets + Spark's own tile arithmetic as a projection) above
    * it; TwoPassSpec holds the regimes value-identical. */
  def curriculum(spark: SparkSession, dir: String): DataFrame =
    curriculumWithGate(spark, dir, TwoPass.WindowGateRows)

  private[graft] def curriculumWithGate(
      spark: SparkSession, dir: String, gate: Long): DataFrame = {
    val q = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    TwoPass.ntileDesc(q, "quality_score", "doc_id", CurriculumPhases, "phase",
      Tables.rows(spark, dir, "documents"), gate)
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("quality_score")).as("min_quality"),
        max(col("quality_score")).as("max_quality"))
  }

  val curriculumSql: String =
    s"""WITH q AS (SELECT doc_id, n_tokens, quality_score FROM (
       |${TextAnalysis.qualityScoreSql}
       |)),
       |p AS (SELECT n_tokens, quality_score,
       |             CAST(NTILE($CurriculumPhases) OVER (
       |               ORDER BY quality_score DESC, doc_id) AS INTEGER) AS phase
       |      FROM q)
       |SELECT phase, COUNT(*) AS n_docs,
       |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |       MIN(quality_score) AS min_quality,
       |       MAX(quality_score) AS max_quality
       |FROM p
       |GROUP BY phase
       |ORDER BY phase""".stripMargin

  private val BudgetDenom = 4 // token budget = 1/4 of the corpus

  /** WATER-FILLING token-budget allocation across source domains: given a
    * global token budget (total/[[BudgetDenom]]), find the unique integer
    * cap C such that allocating min(tokens, C) to every source exhausts the
    * budget — small sources keep everything, dominant crawl domains are
    * clipped at the shared water level. This is the budgeted generalization
    * of [[domainCap]] (docs → tokens, fixed cap → solved cap) and the
    * standard mixture-rebalancing step of a corpus build. The cap is found
    * in closed form, no iteration: sources sorted ascending by size, and for
    * each rank the candidate level `(budget − prefix_below) div n_remaining`
    * is valid iff it lands in that rank's segment — exactly one row
    * qualifies (usage is strictly increasing in C). All integer arithmetic;
    * candidate levels can go negative on invalid rows, where truncate-vs-
    * floor division differs between engines, but every negative candidate
    * fails its segment test in both engines, so none reaches the output.
    * At scale: one map-side-combined aggregate to domain cardinality, then
    * a single window pass + one aggregate on a relation of #domains rows
    * (thousands at web scale — driver-safe, single-partition window is fine
    * and the warehouse form would range-partition it), and one broadcast of
    * the solved 1-row cap back onto the domain relation. */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source")).agg(sum(col("n_tokens")).as("n_tokens"))
    // one window pass computes rank, prefix, AND the whole-relation totals
    // (empty-frame windows) — no scalar crossJoins, no extra jobs
    val w = Window.orderBy(col("n_tokens"), col("source"))
    val whole = Window.partitionBy()
    val capOne = perSource
      .select(col("n_tokens"),
        row_number().over(w).as("rk"),
        sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("prefix"),
        coalesce(lag(col("n_tokens"), 1).over(w), lit(0L)).as("prev_t"),
        count(lit(1)).over(whole).as("n_src"),
        sum(col("n_tokens")).over(whole).as("total_tokens"))
      .withColumn("cand",
        expr(s"((total_tokens div $BudgetDenom) - (prefix - n_tokens))" +
          " div (n_src - rk + 1)"))
      // budget >= total leaves no valid segment: nothing is capped — the
      // fallback level is the largest source, which allocates fully
      .agg(coalesce(
        max(when(col("cand") >= col("prev_t") && col("cand") < col("n_tokens"),
          col("cand"))),
        max(col("n_tokens"))).as("cap"))
    perSource.crossJoin(capOne)
      .select(col("source"), col("n_tokens"),
        least(col("n_tokens"), col("cap")).as("alloc_tokens"),
        when(col("n_tokens") > col("cap"), 1L).otherwise(0L).as("capped"),
        col("cap"))
  }

  val tokenBudgetSql: String =
    s"""WITH per_src AS (
       |  SELECT source,
       |         CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
       |           AS n_tokens
       |  FROM documents GROUP BY source),
       |ranked AS (
       |  SELECT n_tokens,
       |         ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS rk,
       |         CAST(SUM(n_tokens) OVER (ORDER BY n_tokens, source
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix,
       |         COALESCE(LAG(n_tokens) OVER (ORDER BY n_tokens, source), 0)
       |           AS prev_t,
       |         COUNT(*) OVER () AS n_src,
       |         CAST(SUM(n_tokens) OVER () AS BIGINT) AS total_tokens
       |  FROM per_src),
       |cand AS (
       |  SELECT n_tokens, prev_t,
       |         ((total_tokens // $BudgetDenom) - (prefix - n_tokens))
       |           // (n_src - rk + 1) AS cand
       |  FROM ranked),
       |cap_one AS (
       |  SELECT COALESCE(
       |           MAX(CASE WHEN cand >= prev_t AND cand < n_tokens
       |                    THEN cand END),
       |           MAX(n_tokens)) AS cap
       |  FROM cand)
       |SELECT source, n_tokens,
       |       LEAST(n_tokens, cap) AS alloc_tokens,
       |       CAST(CASE WHEN n_tokens > cap THEN 1 ELSE 0 END AS BIGINT)
       |         AS capped,
       |       cap
       |FROM per_src, cap_one
       |ORDER BY source""".stripMargin

  /** LEAKAGE-SAFE train/val/test split — [[splitAssign]] hardened against
    * near-duplicate contamination: hashing each DOC into a split lets two
    * near-identical documents straddle train and test, silently inflating
    * eval scores (the classic benchmark-leakage failure). Here membership
    * hashes the near-dup GROUP (the doc's MinHash component root from
    * [[graft.operators.Dedup.components]]; its own id when unclustered),
    * so an entire near-dup cluster lands in ONE split by construction.
    * Plan: the component relation is orders of magnitude smaller than the
    * corpus (only docs in verified pairs), so at 100 TB this is one corpus
    * scan + a broadcast join + a map-side hash — the same cost as the
    * naive split, with the contamination class eliminated. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val comp = graft.operators.Dedup.components(spark, dir)
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component_root"), col("doc_id")).as("group_id"),
        when(col("component_root").isNotNull, 1L).otherwise(0L).as("grouped"))
      .select(col("doc_id"), col("group_id"), col("grouped"),
        when(pmod(hash60(concat(lit("leak:"), col("group_id").cast("string"))),
          lit(100)) < 80, "train")
          .when(pmod(hash60(concat(lit("leak:"), col("group_id").cast("string"))),
            lit(100)) < 90, "val")
          .otherwise("test").as("split"))
  }

  val leakageSafeSplitSql: String =
    s"""WITH comp AS (SELECT doc_id, component_root FROM (
       |${graft.operators.Dedup.componentsSql}
       |)),
       |d AS (SELECT d.doc_id,
       |             COALESCE(component_root, d.doc_id) AS group_id,
       |             CAST(CASE WHEN component_root IS NULL THEN 0 ELSE 1 END
       |               AS BIGINT) AS grouped
       |      FROM documents d LEFT JOIN comp USING (doc_id))
       |SELECT doc_id, group_id, grouped,
       |       CASE WHEN ${hash60Sql("'leak:' || CAST(group_id AS VARCHAR)")} % 100 < 80
       |              THEN 'train'
       |            WHEN ${hash60Sql("'leak:' || CAST(group_id AS VARCHAR)")} % 100 < 90
       |              THEN 'val'
       |            ELSE 'test' END AS split
       |FROM d
       |ORDER BY doc_id""".stripMargin

  private val PackCapacity = 2048L // tokens per packed training sequence
  private val PackShards = 8L // parallel packing writers

  /** SEQUENCE PACKING audit — the concat-and-chunk packing step every LLM
    * pre-training pipeline runs between curation and tokenized shards:
    * documents are concatenated in a deterministic order and the token
    * stream is cut into fixed-[[PackCapacity]] training sequences, so a
    * document whose tokens straddle a cut boundary is split across two
    * sequences. Packing is embarrassingly parallel across [[PackShards]]
    * hash-assigned writer shards (shard membership is a pure function of
    * doc_id — reproducible on any cluster, like every sample here); within
    * a shard the running token total is one window pass in ingestion
    * order, exactly the order a shard writer would stream. Output is the
    * per-shard packing manifest: documents, tokens, full sequences
    * produced, boundary-straddling docs (the cross-document attention
    * contamination count), and the tail fill of the last partial sequence.
    * All integer arithmetic on non-negative operands (truncating vs
    * flooring division agree), so the oracle replays it exactly. At
    * 100 TB: shard count scales with writer parallelism, the shuffle is
    * one hash exchange on shard, and each shard's window is a linear
    * streaming pass — the same plan a thousand-writer tokenizer runs. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        pmod(hash60(concat(lit("pack:"), col("doc_id").cast("string"))),
          lit(PackShards)).as("shard"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .select(col("shard"), col("doc_id"), col("n_tokens"),
        (sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) - col("n_tokens")).as("cum_before"))
      .select(col("shard"), col("n_tokens"),
        expr(s"cum_before div $PackCapacity").as("first_seq"),
        expr(s"(cum_before + n_tokens - 1) div $PackCapacity").as("last_seq"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (max(col("last_seq")) + 1L).as("n_seqs"),
        sum(when(col("first_seq") =!= col("last_seq"), 1L).otherwise(0L))
          .as("straddling_docs"),
        (sum(col("n_tokens")) - max(col("last_seq")) * PackCapacity)
          .as("tail_fill"))
  }

  val packSequencesSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         ${hash60Sql("'pack:' || CAST(doc_id AS VARCHAR)")} % $PackShards
       |           AS shard,
       |         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
       |           AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT shard, n_tokens,
       |         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS cum_before
       |  FROM d),
       |s AS (
       |  SELECT shard, n_tokens,
       |         cum_before // $PackCapacity AS first_seq,
       |         (cum_before + n_tokens - 1) // $PackCapacity AS last_seq
       |  FROM c)
       |SELECT shard, COUNT(*) AS n_docs,
       |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |       MAX(last_seq) + 1 AS n_seqs,
       |       CAST(SUM(CASE WHEN first_seq <> last_seq THEN 1 ELSE 0 END)
       |         AS BIGINT) AS straddling_docs,
       |       CAST(SUM(n_tokens) AS BIGINT) - MAX(last_seq) * $PackCapacity
       |         AS tail_fill
       |FROM s
       |GROUP BY shard
       |ORDER BY shard""".stripMargin

  /** Shards per training epoch in [[epochShuffle]]. */
  private val EpochShards = 8

  /** Deterministic per-epoch global shuffle: the order a data loader reads
    * the corpus in epoch `e`. Seeding the shard hash with the epoch number
    * re-permutes the corpus every epoch with zero state — any worker can
    * recompute any epoch's order from (epoch, doc_id) alone, which is the
    * only shuffle design that survives preemption on a 1000-executor
    * cluster (no stored permutation to lose or re-ship).
    *
    * Shard = epoch-seeded hash mod S (map-side, embarrassingly parallel —
    * never a global row_number, which would serialize 100 TB through one
    * partition); within-shard read order = sort by the same hash (per-shard
    * parallel sort). Output is the per-(epoch, shard) manifest: doc/lang
    * counts and char mass (balance evidence), the first/last doc in shuffle
    * order (pins the actual permutation head/tail in the oracle), and
    * `n_stay_next` — how many of the shard's docs land in the SAME shard
    * next epoch (decorrelation evidence: expectation is n_docs/S).
    */
  def epochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("h"), col("doc_id"))
    val cw = Window.partitionBy(col("epoch"), col("shard"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        explode(array(lit(0), lit(1))).as("epoch"))
      .select(col("epoch"), col("doc_id"), col("lang"), col("n_chars"),
        hash60(concat(lit("epoch:"), col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))).as("h"),
        hash60(concat(lit("epoch:"), (col("epoch") + 1).cast("string"), lit(":"),
          col("doc_id").cast("string"))).as("h_next"))
      .withColumn("shard", pmod(col("h"), lit(EpochShards)))
      .withColumn("shard_next", pmod(col("h_next"), lit(EpochShards)))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(cw))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(when(col("shard") === col("shard_next"), 1L).otherwise(0L))
          .as("n_stay_next"),
        max(when(col("rn") === 1, col("doc_id"))).as("first_doc"),
        max(when(col("rn") === col("cnt"), col("doc_id"))).as("last_doc"))
  }

  val epochShuffleSql: String =
    s"""WITH d AS (
       |  SELECT e.epoch, doc_id, lang, n_chars,
       |         ${hash60Sql("'epoch:' || CAST(e.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")} AS h,
       |         ${hash60Sql("'epoch:' || CAST(e.epoch + 1 AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")} AS h_next
       |  FROM documents CROSS JOIN (VALUES (0), (1)) AS e(epoch)),
       |s AS (
       |  SELECT epoch, doc_id, lang, n_chars,
       |         h % $EpochShards AS shard, h_next % $EpochShards AS shard_next,
       |         row_number() OVER (PARTITION BY epoch, h % $EpochShards
       |                            ORDER BY h, doc_id) AS rn,
       |         COUNT(*) OVER (PARTITION BY epoch, h % $EpochShards) AS cnt
       |  FROM d)
       |SELECT epoch, CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
       |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |       CAST(SUM(CASE WHEN shard = shard_next THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_stay_next,
       |       MAX(CASE WHEN rn = 1 THEN doc_id END) AS first_doc,
       |       MAX(CASE WHEN rn = cnt THEN doc_id END) AS last_doc
       |FROM s
       |GROUP BY epoch, shard
       |ORDER BY epoch, shard""".stripMargin

  /** TEMPERATURE-SCALED mixture weights (α = 1/2): the multilingual
    * rebalancing rule (mBERT/XLM-R-style `p_i ∝ share_i^α`) that lifts
    * low-resource languages without letting them dominate. α = 1/2 is
    * computed as an INTEGER sqrt of the per-language char mass — no `pow`,
    * whose libm implementations differ across engines; IEEE `sqrt` is
    * correctly rounded and therefore bit-identical, and every ratio after
    * it is integer basis points via floor division on non-negative
    * operands (Spark `div` = DuckDB `//` there). `boost_bp` is the
    * flattening factor temp/share — >10000 means the language is
    * up-sampled by the temperature. The corpus-sized work is one map-side
    * combined per-lang aggregate; everything after runs on the langs-sized
    * relation (scalars folded in as empty-frame windows, not crossJoins).
    */
  def temperatureWeights(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .withColumn("w", expr("cast(floor(sqrt(cast(n_chars as double))) as bigint)"))
      .withColumn("share_bp",
        expr("(n_chars * 10000) div (sum(n_chars) over ())"))
      .withColumn("temp_bp", expr("(w * 10000) div (sum(w) over ())"))
      .withColumn("boost_bp",
        expr("(temp_bp * 10000) div share_bp"))
      .drop("w")

  val temperatureWeightsSql: String =
    """WITH by_lang AS (SELECT lang, COUNT(*) AS n_docs,
      |                        CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |                        CAST(FLOOR(SQRT(CAST(SUM(n_chars) AS DOUBLE)))
      |                          AS BIGINT) AS w
      |                 FROM documents GROUP BY lang)
      |, tot AS (SELECT *, CAST(SUM(n_chars) OVER () AS BIGINT) AS tot_chars,
      |                 CAST(SUM(w) OVER () AS BIGINT) AS tot_w
      |          FROM by_lang)
      |SELECT lang, n_docs, n_chars,
      |       (n_chars * 10000) // tot_chars AS share_bp,
      |       (w * 10000) // tot_w AS temp_bp,
      |       (((w * 10000) // tot_w) * 10000)
      |         // ((n_chars * 10000) // tot_chars) AS boost_bp
      |FROM tot
      |ORDER BY lang""".stripMargin

  /** Eval-set sample budget the Neyman allocation distributes. */
  private val NeymanBudget = 1000L

  /** NEYMAN ALLOCATION for a stratified eval sample: given a fixed label
    * budget, the variance-minimizing share of stratum h is
    * `n_h·σ_h / Σ_j n_j·σ_j` — high-variance strata get oversampled
    * relative to their population share. With strata = languages and the
    * measured variable = document length, `n_h·σ_h` collapses to
    * `sqrt(n_h·Σx² − S²)`: the inner moments are exact DECIMAL(38,0) /
    * HUGEINT sums (the [[snapshotDrift]] precedent — a BIGINT Σx² wraps
    * silently in Spark's non-ANSI mode but errors in DuckDB once the
    * squared-char mass passes 2⁶³, i.e. at ~10¹⁵ total chars for 10⁴-char
    * docs, well inside 100 TB), the single sqrt is IEEE correctly-rounded
    * (bit-identical cross-engine, the temperatureWeights precedent), and
    * every share
    * after is floor-division basis points on non-negative integers. The
    * corpus-sized work is one map-side-combined per-lang aggregate;
    * shares/allocations run on the langs-sized relation with scalars as
    * empty-frame windows. `oversample_bp` >10000 flags strata the
    * variance criterion boosts above their proportional share. */
  def neymanAllocation(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("s"),
        sum(col("n_chars").cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * col("n_chars")).as("q"))
      .withColumn("w",
        expr("""cast(floor(sqrt(cast(
                  cast(n_docs as decimal(38,0)) * q
                  - cast(s as decimal(38,0)) * s as double))) as bigint)"""))
      .withColumn("mean_chars", expr("s div n_docs"))
      .withColumn("sd_chars", expr("w div n_docs"))
      .withColumn("prop_bp", expr("(n_docs * 10000) div (sum(n_docs) over ())"))
      .withColumn("neyman_bp", expr("(w * 10000) div (sum(w) over ())"))
      .withColumn("alloc_n",
        expr(s"(w * $NeymanBudget) div (sum(w) over ())"))
      // prop_bp = 0 guard: a stratum under 1/10000 of the corpus floors to
      // zero share — Spark div would NULL, DuckDB // would error
      .withColumn("oversample_bp",
        expr("""case when prop_bp = 0 then 0
                else (neyman_bp * 10000) div prop_bp end"""))
      .select(col("lang"), col("n_docs"), col("mean_chars"), col("sd_chars"),
        col("prop_bp"), col("neyman_bp"), col("alloc_n"), col("oversample_bp"))

  val neymanAllocationSql: String =
    s"""WITH by_lang AS (SELECT lang, COUNT(*) AS n_docs,
       |                        CAST(SUM(n_chars) AS BIGINT) AS s,
       |                        SUM(CAST(n_chars AS HUGEINT) * n_chars) AS q
       |                 FROM documents GROUP BY lang),
       |w AS (SELECT lang, n_docs,
       |             CAST(FLOOR(SQRT(CAST(CAST(n_docs AS HUGEINT) * q
       |                 - CAST(s AS HUGEINT) * s AS DOUBLE)))
       |               AS BIGINT) AS w,
       |             s FROM by_lang),
       |t AS (SELECT *, CAST(SUM(n_docs) OVER () AS BIGINT) AS tot_n,
       |             CAST(SUM(w) OVER () AS BIGINT) AS tot_w
       |      FROM w)
       |SELECT lang, n_docs,
       |       s // n_docs AS mean_chars,
       |       w // n_docs AS sd_chars,
       |       (n_docs * 10000) // tot_n AS prop_bp,
       |       (w * 10000) // tot_w AS neyman_bp,
       |       (w * $NeymanBudget) // tot_w AS alloc_n,
       |       CASE WHEN (n_docs * 10000) // tot_n = 0 THEN 0
       |            ELSE (((w * 10000) // tot_w) * 10000)
       |                   // ((n_docs * 10000) // tot_n) END AS oversample_bp
       |FROM t
       |ORDER BY lang""".stripMargin

  private val ReshardA = 8
  private val ReshardB = 10

  /** RESHARD STABILITY AUDIT: how much data moves when the shard count
    * grows [[ReshardA]]→[[ReshardB]] under (a) mod-hashing and (b)
    * rendezvous / highest-random-weight hashing — the property that
    * decides whether a resize re-shuffles the whole corpus (~1−1/b under
    * mod) or only the minimum (~(b−a)/b, and ONLY onto the new shards,
    * under HRW). Per-doc HRW is an integer argmax: each (doc, shard)
    * score is the shared hash60, truncated to 56 bits and packed as
    * `(h div 16)·16 + s` so a single GREATEST + `% 16` decodes the
    * winning shard — pure integer arithmetic, identical in both engines,
    * ties impossible by construction (the pack is injective per doc).
    * One map-side pass computes both assignments; the audit aggregate is
    * scheme × 1 row. `moved_to_new` pins HRW's defining guarantee: every
    * moved doc lands on a NEW shard (id ≥ [[ReshardA]]). */
  def reshardStability(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.hash60
    def hrwShard(n: Int): org.apache.spark.sql.Column = {
      val keys = (0 until n).map(s =>
        expr(s"div(h$s, 16) * 16 + $s"))
      (greatest(keys: _*) % 16).cast("int")
    }
    val withScores = Tables.documents(spark, dir).select(
      (col("doc_id") :: (0 until ReshardB).map(s =>
        hash60(concat(col("doc_id").cast("string"), lit(":"), lit(s))).as(s"h$s")).toList): _*)
    val assigned = withScores.select(
      col("doc_id"),
      (col("doc_id") % ReshardA).cast("int").as("mod_a"),
      (col("doc_id") % ReshardB).cast("int").as("mod_b"),
      hrwShard(ReshardA).as("hrw_a"),
      hrwShard(ReshardB).as("hrw_b"))
    def audit(scheme: String, a: String, b: String) = assigned.agg(
      count(lit(1)).as("n_docs"),
      sum(when(col(a) =!= col(b), 1L).otherwise(0L)).as("n_moved"),
      sum(when(col(a) =!= col(b) && col(b) >= ReshardA, 1L).otherwise(0L))
        .as("moved_to_new"))
      .select(lit(scheme).as("scheme"), col("n_docs"), col("n_moved"),
        expr("(n_moved * 10000) div n_docs").as("moved_bp"),
        col("moved_to_new"))
    audit("hrw", "hrw_a", "hrw_b").unionAll(audit("mod", "mod_a", "mod_b"))
  }

  val reshardStabilitySql: String = {
    import graft.functions.TextFns.hash60Sql
    def h(s: Int) = hash60Sql(s"CAST(doc_id AS VARCHAR) || ':' || '$s'")
    def hrw(n: Int) =
      s"CAST(GREATEST(${(0 until n).map(s => s"(${h(s)} // 16) * 16 + $s").mkString(", ")}) % 16 AS INTEGER)"
    s"""WITH a AS (SELECT doc_id,
       |                  CAST(doc_id % $ReshardA AS INTEGER) AS mod_a,
       |                  CAST(doc_id % $ReshardB AS INTEGER) AS mod_b,
       |                  ${hrw(ReshardA)} AS hrw_a,
       |                  ${hrw(ReshardB)} AS hrw_b
       |           FROM documents),
       |s AS (SELECT 'hrw' AS scheme, COUNT(*) AS n_docs,
       |             CAST(SUM(CASE WHEN hrw_a <> hrw_b THEN 1 ELSE 0 END)
       |               AS BIGINT) AS n_moved,
       |             CAST(SUM(CASE WHEN hrw_a <> hrw_b AND hrw_b >= $ReshardA
       |                           THEN 1 ELSE 0 END) AS BIGINT) AS moved_to_new
       |      FROM a
       |      UNION ALL
       |      SELECT 'mod', COUNT(*),
       |             CAST(SUM(CASE WHEN mod_a <> mod_b THEN 1 ELSE 0 END)
       |               AS BIGINT),
       |             CAST(SUM(CASE WHEN mod_a <> mod_b AND mod_b >= $ReshardA
       |                           THEN 1 ELSE 0 END) AS BIGINT)
       |      FROM a)
       |SELECT scheme, n_docs, n_moved,
       |       (n_moved * 10000) // n_docs AS moved_bp,
       |       moved_to_new
       |FROM s
       |ORDER BY scheme""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("sample_split_assign", splitAssign(_, _).orderBy("doc_id"), Some(splitAssignSql)),
    Q("sample_kfold_balance", kfoldBalance(_, _).orderBy("fold", "lang"),
      Some(kfoldBalanceSql)),
    Q("sample_hash_10pct", hashSample(_, _).orderBy("doc_id"), Some(hashSampleSql)),
    Q("sample_balanced_per_lang", balancedSample(_, _).orderBy("lang", "rk"),
      Some(balancedSampleSql)),
    Q("sample_domain_cap", domainCap(_, _).orderBy("source", "rk"),
      Some(domainCapSql)),
    Q("sample_size_biased", sizeBiased(_, _).orderBy("doc_id"), Some(sizeBiasedSql)),
    Q("sample_weighted_priority", weightedPriority(_, _).orderBy("lang", "rk"),
      Some(weightedPrioritySql)),
    Q("sample_mixture_weights", mixtureWeights(_, _).orderBy("lang"),
      Some(mixtureWeightsSql)),
    Q("sample_mixture_apply", mixtureApply(_, _).orderBy("doc_id"),
      Some(mixtureApplySql)),
    Q("sample_curriculum", curriculum(_, _).orderBy("phase"),
      Some(curriculumSql)),
    Q("sample_token_budget", tokenBudget(_, _).orderBy("source"),
      Some(tokenBudgetSql)),
    Q("sample_pack_sequences", packSequences(_, _).orderBy("shard"),
      Some(packSequencesSql)),
    Q("sample_leakage_safe_split", leakageSafeSplit(_, _).orderBy("doc_id"),
      Some(leakageSafeSplitSql)),
    Q("sample_epoch_shuffle", epochShuffle(_, _).orderBy("epoch", "shard"),
      Some(epochShuffleSql)),
    Q("sample_temperature", temperatureWeights(_, _).orderBy("lang"),
      Some(temperatureWeightsSql)),
    Q("sample_neyman_alloc", neymanAllocation(_, _).orderBy("lang"),
      Some(neymanAllocationSql)),
    Q("sample_reshard_stability", reshardStability(_, _).orderBy("scheme"),
      Some(reshardStabilitySql)))
}
