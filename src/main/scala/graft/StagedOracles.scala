package graft

import graft.operators.{Dedup, Similarity}

/** A monolithic oracle decomposed into sequential DuckDB stages.
  *
  * The sf1 DuckDB-cost-bound oracle class dies of one plan pathology:
  * DuckDB inlines plain CTEs per reference (the round-4 lesson), so an
  * oracle that references a heavy subtree k times — the kNN graph under
  * every graph metric, the shingle index under every Jaccard variant, the
  * 38M-row b-bit candidate set under four scalar metrics — evaluates that
  * subtree k times inside ONE out-of-core plan, holding every copy's
  * hash/spill state concurrently. At sf1 that exhausted the temp volume
  * (rounds 9-10, "No space left on device" / OOM), even though each
  * subtree's standalone oracle runs fine at sf1. The staged form
  * materializes each heavy subtree as an on-disk table ONCE — temp state
  * is freed between stages, shared subtrees compute once across ALL
  * staged queries (`tools/compare.py` dedups stages by (table, sql)
  * text) — then runs the remainder over the staged tables.
  *
  * Honesty invariant: every staged final is derived TEXTUALLY from the
  * same monolithic oracle string the driver's sf0.01 gate runs, with each
  * staged subtree's verbatim text swapped for its stage-table read
  * ([[swap]] refuses surgery when the subtree is not found verbatim), and
  * each stage's SQL is either the standalone oracle of that subtree or
  * itself the same textual surgery applied one level down. Nothing is
  * re-derived from the Spark implementation. TWO deliberate exceptions:
  * the semantic-closure stage (`stage_sem`, round 13) and the lexical
  * component-closure stage (`stage_comp`, round 15 — the sf3 disk-bound
  * class of round 14) each replace a monolithic recursive reachability —
  * quadratic in component size — with the same linear iterative closure
  * whose equivalence is certified by an in-oracle convergence assertion
  * plus committed hash-matching sweeps at every scale the recursive form
  * still fits (see [[SemRounds]] scaladoc). `tools/compare.py` executes
  * these under `GRAFT_STAGED_ORACLE=1` for the sf≥1 sweeps; the driver's
  * own gate keeps using the untouched monolithic `oracleSql`.
  */
final case class StagedOracle(stages: Seq[(String, String)], finalSql: String)

object StagedOracles {

  /** Verbatim-subtree swap; refuses to "succeed" silently when the
    * monolithic text drifts away from the subtree val it embeds. */
  private def swap(sql: String, subtree: String, table: String): String = {
    require(sql.contains(subtree),
      s"staged-oracle surgery: subtree for $table not embedded verbatim")
    sql.replace(subtree, table)
  }

  // ---- shared stage tables, in dependency order ----------------------

  /** Exact kNN graph (vec_id, neighbor_id, rank, cos_sim) — the subtree
    * every graph-metric oracle (pagerank, triangles, k-core, neighbor
    * Jaccard, assortativity, modularity) embeds and then re-references.
    *
    * Since round 16 the graph is itself built in FOUR sequential
    * sub-stages rather than one monolithic CTAS: at sf6 the monolithic
    * `stage_knng` (verbatim [[Similarity.knnGraphSql]]) held the band
    * self-join's DISTINCT, two 64-DOUBLE-list hash joins, and the top-k
    * window sort in ONE out-of-core plan and died after >62 GB of temp
    * on a 74 GB volume (round-15 adjudication, SCALE.md). Each sub-stage
    * below is the corresponding CTE block of the SAME monolithic text
    * ([[Similarity.knnGraphHeadSql]]/[[Similarity.knnGraphCandSql]]/
    * [[Similarity.knnGraphScoredSql]]/[[Similarity.knnGraphTailSql]] —
    * knnGraphSql is their byte-identical concatenation, StagedOracleSpec),
    * with upstream CTEs redirected to the previous stage table; the
    * inter-stage relations are id/score tuples (16-24 B/row columnar),
    * never the vector lists, and each phase's temp is freed before the
    * next starts. */
  private val stKnngBands = "stage_knng_bands" ->
    (Similarity.knnGraphHeadSql + "\nSELECT vec_id, tbl, bkey FROM bands")

  private val stKnngCand = "stage_knng_cand" ->
    ("WITH bands AS (SELECT vec_id, tbl, bkey FROM stage_knng_bands),\n" +
      Similarity.knnGraphCandSql + "\nSELECT vec_id, neighbor_id FROM cand")

  private val stKnngScored = "stage_knng_scored" ->
    ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n" +
      "cand AS (SELECT vec_id, neighbor_id FROM stage_knng_cand),\n" +
      Similarity.knnGraphScoredSql +
      "\nSELECT vec_id, neighbor_id, cos_sim FROM scored")

  private val stKnng = "stage_knng" ->
    ("WITH scored AS (SELECT vec_id, neighbor_id, cos_sim FROM stage_knng_scored),\n" +
      Similarity.knnGraphTailSql)

  /** The full kNN-graph stage pipeline every graph-metric consumer runs. */
  private val knngStages: Seq[(String, String)] =
    Seq(stKnngBands, stKnngCand, stKnngScored, stKnng)

  /** Thresholded cosine near-dup pairs (vec_a, vec_b, cos_sim) — embedded
    * by the semantic-closure and modality-agreement oracles; the closure
    * reads it twice (both UNION directions of `sym`).
    *
    * Built in THREE sequential sub-stages since round 16 (the same
    * surgery as the kNN stage above, for the same reason: the monolithic
    * CTAS held the band self-join's DISTINCT and two vector-list joins
    * in one out-of-core plan and was the last sf6 disk-bound cell).
    * Each sub-stage is the corresponding block of the SAME monolithic
    * text ([[Similarity.cosinePairsHeadSql]]/[[Similarity.cosinePairsCandSql]]/
    * [[Similarity.cosinePairsTailSql]] — embeddingCosinePairsSql is
    * their byte-identical concatenation, StagedOracleSpec). */
  private val stCospBands = "stage_cosp_bands" ->
    (Similarity.cosinePairsHeadSql + "\nSELECT vec_id, tbl, bkey FROM bands")

  private val stCospCand = "stage_cosp_cand" ->
    ("WITH bands AS (SELECT vec_id, tbl, bkey FROM stage_cosp_bands),\n" +
      Similarity.cosinePairsCandSql + "\nSELECT vec_a, vec_b FROM cand")

  private val stCos = "stage_cospairs" ->
    ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n" +
      "cand AS (SELECT vec_a, vec_b FROM stage_cosp_cand)\n" +
      Similarity.cosinePairsTailSql)

  /** The full cosine-pair stage pipeline every consumer runs. */
  private val cosPairsStages: Seq[(String, String)] =
    Seq(stCospBands, stCospCand, stCos)

  /** Semantic-closure stage pipeline (ends in table `stage_sem` with the
    * same (vec_id, cluster_root, cluster_size) schema every downstream
    * final reads).
    *
    * Round 12 staged the monolithic `WITH RECURSIVE` reachability
    * verbatim, and at sf3 it was the last cost-bound oracle left: on a
    * giant component the recursive `reach` relation is Σ|component|²
    * rows (~3.6×10⁹ at sf3's 60k-node giant component) — >93 GiB in
    * DuckDB however it is staged, because the ALGORITHM is quadratic,
    * not the staging. Round 13 replaces that one stage (per the round-12
    * verdict's own prescription) with an equivalent LINEAR-space
    * iterative closure, computed entirely inside DuckDB from the same
    * staged pair table — min-label propagation with pointer jumping
    * (hook + compress), [[SemRounds]] materialized rounds:
    *
    *   lblₜ₊₁(v) = min(h(v), h(h(v)))  where
    *   h(v)      = min(lblₜ(v), min over (v,u) ∈ sym of lblₜ(u))
    *
    * Equivalence is certified three ways rather than textually:
    *   1. labels start at id, only decrease, and only ever hold ids of
    *      same-component nodes, so the component minimum m is a fixpoint
    *      label (lbl(m) = m always) and an edge-uniform labeling is
    *      exactly {component → its min id} — the monolithic
    *      `MIN(r) OVER reach` value;
    *   2. a convergence stage (`stage_sem_fix`) ERRORS via DuckDB
    *      `error()` if any edge still joins two labels after
    *      [[SemRounds]] rounds — an unconverged labeling can never be
    *      served silently (the consumers then record honest errs);
    *   3. at every scale where the recursive form fits (sf0.01/0.1/1)
    *      the staged sweep hash-matches the same Spark dumps the
    *      driver's monolithic gate certifies (committed sweeps).
    *
    * Each round doubles the label-pointer reach (f ← 2f+2 on a path), so
    * [[SemRounds]] = 24 covers components of diameter ~2²⁵ — backstopped
    * by certification 2, never by hope. Per-round cost is one edge-table
    * join + two node-table self-joins: linear, a few MB at sf3. */
  private val SemRounds = 24

  // Prefix-parameterized builders for the iterative closure pipeline —
  // round 15 reuses the round-13 hook+compress machinery (verbatim text,
  // only the stage-name prefix and the edge columns differ) for the
  // LEXICAL closure, so both closures share one certified implementation.

  private def jumpLbl0(prefix: String): (String, String) =
    s"${prefix}_lbl_0" ->
      s"SELECT DISTINCT a AS id, a AS lbl FROM ${prefix}_sym"

  private def jumpRound(prefix: String)(i: Int): (String, String) =
    s"${prefix}_lbl_$i" ->
      s"""WITH cur AS (SELECT id, lbl FROM ${prefix}_lbl_${i - 1}),
         |hook AS (SELECT e.a AS id, MIN(c.lbl) AS nlbl
         |         FROM ${prefix}_sym e JOIN cur c ON c.id = e.b
         |         GROUP BY e.a),
         |h AS (SELECT cur.id, LEAST(cur.lbl, COALESCE(hook.nlbl, cur.lbl)) AS lbl
         |      FROM cur LEFT JOIN hook ON hook.id = cur.id)
         |SELECT h.id, LEAST(h.lbl, COALESCE(p.lbl, h.lbl)) AS lbl
         |FROM h LEFT JOIN h p ON p.id = h.lbl""".stripMargin

  /** Fails the WHOLE stage pipeline (and so every consumer, honestly) if
    * the labeling is not an edge-uniform fixpoint. */
  private def jumpFix(prefix: String, label: String): (String, String) =
    s"${prefix}_fix" ->
      s"""SELECT CASE WHEN cnt = 0 THEN CAST(0 AS BIGINT)
         |       ELSE error('$label closure not converged after $SemRounds rounds - raise StagedOracles.SemRounds')
         |       END AS unconverged_edges
         |FROM (SELECT COUNT(*) AS cnt
         |      FROM ${prefix}_sym e
         |      JOIN ${prefix}_lbl_$SemRounds a ON a.id = e.a
         |      JOIN ${prefix}_lbl_$SemRounds b ON b.id = e.b
         |      WHERE a.lbl <> b.lbl) t""".stripMargin

  /** The monolithic oracle's own `sym`/`nodes` text, with the pair CTE
    * redirected to [[stCos]] — hook edges. */
  private val stSemSym = "stage_sem_sym" ->
    """SELECT vec_a AS a, vec_b AS b FROM stage_cospairs
      |UNION SELECT vec_b, vec_a FROM stage_cospairs""".stripMargin

  private val stSemLbl0 = jumpLbl0("stage_sem")

  private def semRound(i: Int): (String, String) = jumpRound("stage_sem")(i)

  private val stSemFix = jumpFix("stage_sem", "semantic")

  /** The monolithic tail (comp → sizes → projection), verbatim shape,
    * reading the converged labeling instead of the recursive `reach`. */
  private val stSem = "stage_sem" ->
    s"""WITH comp AS (SELECT id, lbl AS comp FROM stage_sem_lbl_$SemRounds),
       |sz AS (SELECT comp, COUNT(*) AS cluster_size FROM comp GROUP BY comp)
       |SELECT id AS vec_id, comp.comp AS cluster_root, cluster_size
       |FROM comp JOIN sz USING (comp)
       |ORDER BY vec_id""".stripMargin

  /** Every stage `stage_sem` needs, in dependency order ([[stCos]]
    * first: the edges are the SAME staged pair table round 12 used). */
  private val semStages: Seq[(String, String)] =
    cosPairsStages ++ Seq(stSemSym, stSemLbl0) ++
      (1 to SemRounds).map(semRound) ++ Seq(stSemFix, stSem)

  /** Verified MinHash-LSH near-dup pairs (doc_a, doc_b, est_jaccard,
    * jaccard) — verbatim the standalone `dedup_minhash_lsh` oracle; the
    * subtree the whole lexical-closure family (and the recall evaluation)
    * embeds and re-references. */
  private val stLsh = "stage_lshpairs" -> Dedup.minhashLshSql

  /** Lexical closure stage pipeline (ends in table `stage_comp` with the
    * same (doc_id, component_root) relation the monolithic recursive
    * `componentsSql` computes).
    *
    * Round 14's sf3 sweep showed the LEXICAL closure is the same disk
    * time-bomb the semantic closure was in round 12: the monolithic
    * `WITH RECURSIVE reach` relation is Σ|component|² rows AND re-derives
    * the full MinHash-LSH subtree inside the same out-of-core plan —
    * `dedup_cluster_keep` alone spilled >57 GB of DuckDB temp at sf3 and
    * died of `No space left on device` on the round-14 disk. The fix is
    * the SAME second deliberate exception round 13 certified for
    * `stage_sem`: replace the quadratic recursive reachability with the
    * linear hook+compress min-label propagation ([[jumpRound]] — shared
    * text, only the stage prefix differs), over edges read from the
    * staged pair table. Equivalence is certified the same three ways:
    *   1. labels start at id, only decrease, and only ever hold ids of
    *      same-component docs, so an edge-uniform labeling is exactly
    *      {component → its min doc_id} — the monolithic `MIN(r)` value;
    *   2. `stage_comp_fix` ERRORS via DuckDB `error()` if any edge still
    *      joins two labels after [[SemRounds]] rounds — an unconverged
    *      labeling can never be served silently;
    *   3. at every scale where the recursive form fits (sf0.01/0.1/1)
    *      the staged sweep hash-matches the same Spark dumps the
    *      driver's monolithic gate certifies (committed sweeps). */
  private val stCompSym = "stage_comp_sym" ->
    """SELECT doc_a AS a, doc_b AS b FROM stage_lshpairs
      |UNION SELECT doc_b, doc_a FROM stage_lshpairs""".stripMargin

  /** The monolithic tail: with a converged labeling, `MIN(r) OVER reach`
    * is the label itself, projected in the monolithic column names. */
  private val stComp = "stage_comp" ->
    s"""SELECT id AS doc_id, lbl AS component_root
       |FROM stage_comp_lbl_$SemRounds
       |ORDER BY doc_id""".stripMargin

  /** Every stage `stage_comp` needs, in dependency order ([[stLsh]]
    * first: the edges are the same verified pair relation the monolithic
    * `p` CTE embeds). */
  private val compStages: Seq[(String, String)] =
    Seq(stLsh, stCompSym, jumpLbl0("stage_comp")) ++
      (1 to SemRounds).map(jumpRound("stage_comp")) ++
      Seq(jumpFix("stage_comp", "lexical"), stComp)

  /** Shared surgery for the closure-head consumers: the monolithic
    * `WITH RECURSIVE <core>,\ncomp AS (MIN(r)…),` head — byte-located,
    * never pattern-matched — is replaced as a unit by a read of
    * [[stComp]]; everything from `tailStart` on is byte-identical to the
    * monolithic oracle. */
  private def compHeadSwap(sql: String, tailStart: String): String = {
    val head = s"WITH RECURSIVE ${Dedup.componentsCoreSql},\n" +
      "comp AS (SELECT id AS doc_id, MIN(r) AS component_root\n" +
      "         FROM reach GROUP BY id),\n"
    require(sql.startsWith(head),
      "staged-oracle surgery: closure head not found verbatim")
    // indexOf would be wrong here: the head EMBEDS minhashLshSql, whose
    // own `sz AS (` CTE shadows the tail marker
    require(sql.substring(head.length).startsWith(tailStart),
      "staged-oracle surgery: body does not follow the closure head")
    "WITH comp AS (SELECT doc_id, component_root FROM stage_comp),\n" +
      sql.substring(head.length)
  }

  /** The `WITH sh, shf,` prefix every shingle-family oracle starts with. */
  private val shfPrefix: String =
    s"WITH ${Dedup.shingleIndexSql},\n${Dedup.cappedShingleIndexSql},"

  /** Raw shingle inverted index (doc_id, h): the tokenize + 3-shingle +
    * hash60 scan — the `sh` CTE of the shared prefix, materialized. */
  private val stSh = "stage_sh" ->
    s"WITH ${Dedup.shingleIndexSql}\nSELECT doc_id, h FROM sh"

  /** df-capped index (doc_id, h): the `shf` CTE over [[stSh]]. */
  private val stShf = "stage_shf" ->
    (s"WITH sh AS (SELECT doc_id, h FROM stage_sh),\n" +
      s"${Dedup.cappedShingleIndexSql}\nSELECT doc_id, h FROM shf")

  /** The pair-intersection CTE text shared verbatim by the n-gram
    * Jaccard, containment, threshold-sweep and b-bit oracles. */
  private val interDef: String =
    """inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |          FROM shf a JOIN shf b
      |            ON a.h = b.h AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)""".stripMargin
  require(Dedup.thresholdSweepSql.contains(interDef) &&
    Dedup.bbitMinhashSql.contains(interDef) &&
    Dedup.ngramJaccardSql.contains(interDef),
    "staged-oracle surgery: shared pair-intersection CTE text drifted")

  /** Capped-index pair intersections (doc_a, doc_b, n_common) — referenced
    * 1-6× by the sweep/b-bit metrics blocks. */
  private val stInter = "stage_inter" ->
    (s"WITH shf AS (SELECT doc_id, h FROM stage_shf),\n$interDef\n" +
      "SELECT doc_a, doc_b, n_common FROM inter")

  private val interRead = "inter AS (SELECT doc_a, doc_b, n_common FROM stage_inter)"
  private val shfRead = "WITH shf AS (SELECT doc_id, h FROM stage_shf),"
  private val shShfRead = "WITH sh AS (SELECT doc_id, h FROM stage_sh),\n" +
    "shf AS (SELECT doc_id, h FROM stage_shf),"

  /** Exact n-gram Jaccard pairs — the lexical side of the modality
    * agreement, derived from the standalone `dedup_ngram_jaccard` oracle
    * with its shared prefix redirected to [[stShf]]. */
  private val stLex = "stage_lexpairs" ->
    swap(Dedup.ngramJaccardSql, shfPrefix, shfRead)

  /** The three b-bit-audit relations the bbit metrics tail re-references
    * (bcand 5x, fcand 5x, truth 10x — DuckDB inlines plain CTEs per
    * reference, and bcand alone is ~56M pairs at sf6, so the monolithic
    * final held ten concurrent self-join/DISTINCT spill states and died
    * of disk in the round-15 sf6 sweep). Each is its CTE block of the
    * monolithic text ([[Dedup.bbitSigCtesSql]] etc. — bbitMinhashSql is
    * their byte-identical concatenation, StagedOracleSpec), with the shingle
    * index and pair-intersection inputs redirected to their stages; the
    * staged final's twelve scalar aggregates then read tables. */
  private val stBbitBcand = "stage_bbit_bcand" ->
    (s"$shShfRead\n${Dedup.bbitSigCtesSql},\n${Dedup.bbitBcandCtesSql}\n" +
      "SELECT doc_a, doc_b FROM bcand")

  private val stBbitFcand = "stage_bbit_fcand" ->
    (s"$shShfRead\n${Dedup.bbitSigCtesSql},\n${Dedup.bbitFcandCtesSql}\n" +
      "SELECT doc_a, doc_b FROM fcand")

  private val stBbitTruth = "stage_bbit_truth" ->
    (s"$shShfRead\n${Dedup.bbitSigCtesSql},\n" +
      swap(Dedup.bbitTruthCtesSql, interDef, interRead) +
      "\nSELECT doc_a, doc_b FROM truth")

  // ---- staged decompositions, keyed like [[SparkEntry.oracleSql]] ----

  /** Undirected kNN edge set + the per-node community/degree assignment —
    * materialized as tables since round 16: as inlined CTEs over stage
    * reads, DuckDB's join-order estimate in the final's `ein` aggregate
    * joined the two `assign` sides on the community key FIRST, a |V|²
    * build (~58 GB temp) on a giant-single-community graph. Real tables
    * give the optimizer honest stats and the final runs in <1 s. Each
    * stage is the monolithic CTE block ([[Similarity.modularityUndCteSql]]
    * etc. — modularitySql is their byte-identical concatenation) with the
    * embedded subtrees redirected to their stages. */
  private val stModUnd = "stage_mod_und" ->
    ("WITH " + swap(Similarity.modularityUndCteSql,
      s"(${Similarity.knnGraphSql})", "stage_knng") + "\nSELECT a, b FROM und")

  private val stModAssign = "stage_mod_assign" ->
    ("WITH und AS (SELECT a, b FROM stage_mod_und),\n" +
      Similarity.modularityDegCteSql + ",\n" +
      swap(Similarity.modularitySemAssignCtesSql,
        s"(${Similarity.semanticClustersSql})", "stage_sem") +
      "\nSELECT vec_id, community, deg FROM assign")

  /** sim_modularity = und(knnGraph) × assign(semanticClusters) × two
    * community-bounded aggregates; the und/assign blocks are swapped for
    * their stage reads (deg stays defined but unreferenced — DuckDB never
    * evaluates an unreferenced plain CTE). */
  private[graft] val modularityStaged: StagedOracle = StagedOracle(
    stages = knngStages ++ semStages ++ Seq(stModUnd, stModAssign),
    finalSql = swap(
      swap(Similarity.modularitySql,
        Similarity.modularityUndCteSql,
        "und AS (SELECT a, b FROM stage_mod_und)"),
      Similarity.modularitySemAssignCtesSql,
      "assign AS (SELECT vec_id, community, deg FROM stage_mod_assign)"))

  /** dedup_cascade = exact-hash stage + component closure + semantic
    * closure. The semantic subtree is a `(\n$sql\n)` subquery; the
    * component closure is the `WITH RECURSIVE … reach … comp AS (…)` head,
    * replaced as a unit by the staged `stage_comp` relation (since round
    * 15 the iterative [[compStages]] pipeline — same relation, linear
    * space). */
  private[graft] val cascadeStaged: StagedOracle = {
    val semSwapped = swap(Dedup.cascadeSql,
      s"(\n${Similarity.semanticClustersSql}\n)", "stage_sem")
    val marker = ",\ncomp AS (SELECT id AS doc_id, MIN(r) AS component_root"
    require(semSwapped.contains(marker),
      "staged-oracle surgery: cascade component-closure head not found")
    val tail = semSwapped.indexOf("s1 AS (")
    require(tail > semSwapped.indexOf(marker),
      "staged-oracle surgery: cascade body not after the closure head")
    StagedOracle(
      stages = semStages ++ compStages,
      finalSql =
        "WITH comp AS (SELECT doc_id, component_root FROM stage_comp),\n" +
          semSwapped.substring(tail))
  }

  /** Every staged decomposition. The graph-metric family swaps its single
    * embedded kNN subtree for [[stKnng]]; the shingle family swaps its
    * shared index prefix (and, where referenced repeatedly, the
    * pair-intersection CTE) for stage reads; the two closure-output
    * queries read their own materialized stage directly. */
  def all: Map[String, StagedOracle] = Map(
    "sim_modularity" -> modularityStaged,
    "dedup_cascade" -> cascadeStaged,
    "sim_knn_graph" -> StagedOracle(knngStages,
      "SELECT vec_id, neighbor_id, rank, cos_sim FROM stage_knng " +
        "ORDER BY vec_id, rank"),
    "sim_knn_classifier" -> StagedOracle(knngStages,
      swap(Similarity.knnClassifierSql,
        s"(\n${Similarity.knnGraphSql}\n)", "stage_knng")),
    "sim_semantic_clusters" -> StagedOracle(semStages,
      "SELECT vec_id, cluster_root, cluster_size FROM stage_sem " +
        "ORDER BY vec_id"),
    "sim_pagerank" -> StagedOracle(knngStages,
      swap(Similarity.pagerankSql, s"(${Similarity.knnGraphSql})", "stage_knng")),
    "sim_triangles" -> StagedOracle(knngStages,
      swap(Similarity.trianglesSql, s"(${Similarity.knnGraphSql})", "stage_knng")),
    "sim_kcore" -> StagedOracle(knngStages,
      swap(Similarity.kcoreSql, s"(\n${Similarity.knnGraphSql}\n)", "stage_knng")),
    "sim_neighbor_jaccard" -> StagedOracle(knngStages,
      swap(Similarity.neighborJaccardSql,
        s"(\n${Similarity.knnGraphSql}\n)", "stage_knng")),
    "sim_assortativity" -> StagedOracle(knngStages,
      swap(Similarity.assortativitySql,
        s"(\n${Similarity.knnGraphSql}\n)", "stage_knng")),
    "sample_leakage_safe_split" -> StagedOracle(compStages,
      swap(graft.operators.Sampling.leakageSafeSplitSql,
        s"(\n${Dedup.componentsSql}\n)", "stage_comp")),
    "dedup_weighted_jaccard" -> StagedOracle(Seq(stSh, stShf),
      swap(Dedup.weightedJaccardSql, shfPrefix, shfRead)),
    "dedup_threshold_sweep" -> StagedOracle(Seq(stSh, stShf, stInter),
      swap(swap(Dedup.thresholdSweepSql, shfPrefix, shfRead),
        interDef, interRead)),
    // the truth block EMBEDS interDef, so the final swaps the whole
    // blocks (bb+bcand, fbands+fcand, sz+inter+truth) for stage reads —
    // the remaining sig CTEs stay defined but unreferenced (DuckDB never
    // evaluates an unreferenced plain CTE)
    "dedup_bbit_minhash" -> StagedOracle(
      Seq(stSh, stShf, stInter, stBbitBcand, stBbitFcand, stBbitTruth),
      swap(swap(swap(swap(
        Dedup.bbitMinhashSql, shfPrefix, shShfRead),
        Dedup.bbitBcandCtesSql,
        "bcand AS (SELECT doc_a, doc_b FROM stage_bbit_bcand)"),
        Dedup.bbitFcandCtesSql,
        "fcand AS (SELECT doc_a, doc_b FROM stage_bbit_fcand)"),
        Dedup.bbitTruthCtesSql,
        "truth AS (SELECT doc_a, doc_b FROM stage_bbit_truth)")),
    "dedup_modality_agreement" -> StagedOracle(
      Seq(stSh, stShf, stLex) ++ cosPairsStages,
      swap(
        swap(Dedup.modalityAgreementSql,
          s"(\n${Dedup.ngramJaccardSql}\n)", "stage_lexpairs"),
        s"(\n${Similarity.embeddingCosinePairsSql}\n)", "stage_cospairs")),
    // the lexical-closure family (round 15): sf3-disk-bound monolithically
    "dedup_minhash_lsh" -> StagedOracle(Seq(stLsh),
      "SELECT doc_a, doc_b, est_jaccard, jaccard FROM stage_lshpairs " +
        "ORDER BY doc_a, doc_b"),
    "dedup_lsh_recall" -> StagedOracle(Seq(stSh, stShf, stLex, stLsh),
      swap(
        swap(Dedup.lshRecallSql,
          s"(\n${Dedup.ngramJaccardSql}\n)", "stage_lexpairs"),
        s"(\n${Dedup.minhashLshSql}\n)", "stage_lshpairs")),
    "dedup_components" -> StagedOracle(compStages,
      "SELECT doc_id, component_root FROM stage_comp ORDER BY doc_id"),
    "dedup_cluster_keep" -> StagedOracle(compStages,
      compHeadSwap(Dedup.clusterKeepSql, "sz AS (")),
    "dedup_cluster_reps" -> StagedOracle(compStages,
      compHeadSwap(Dedup.clusterRepsSql, "q AS (")))

  /** JSON for `oracle_stage_sql.json`:
    * `{query: {"stages": [[table, sql]…], "final": sql}}`. */
  def json: String = {
    def q(s: String) = Jsons.quote(s)
    all.toSeq.sortBy(_._1).map { case (name, so) =>
      val stages = so.stages
        .map { case (t, s) => s"[${q(t)},${q(s)}]" }.mkString("[", ",", "]")
      s"${q(name)}: {${q("stages")}: $stages, ${q("final")}: ${q(so.finalSql)}}"
    }.mkString("{", ",", "}")
  }
}
