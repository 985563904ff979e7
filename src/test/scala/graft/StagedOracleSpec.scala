package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}

/** Round-11: staged decompositions of the DuckDB-cost-bound sf1 oracle
  * class. The gate here is textual honesty — every staged final must be
  * the SAME query text as the monolithic oracle the driver runs, with
  * each heavy subtree's verbatim text swapped for its stage-table read,
  * and each stage must be that subtree's standalone oracle (or the same
  * surgery applied one level down). */
class StagedOracleSpec extends AnyFunSuite {

  private val exclusionClass = Set(
    "dedup_cascade", "sim_modularity", "sim_knn_graph",
    "sim_semantic_clusters", "sim_pagerank", "sim_triangles", "sim_kcore",
    "sim_neighbor_jaccard", "sim_assortativity", "dedup_weighted_jaccard",
    "dedup_threshold_sweep", "dedup_bbit_minhash", "dedup_modality_agreement",
    // round 15: the lexical-closure family — sf3 disk-bound monolithically
    // (the recursive reach relation spilled >57 GB of DuckDB temp)
    "dedup_minhash_lsh", "dedup_lsh_recall", "dedup_components",
    "dedup_cluster_keep", "dedup_cluster_reps",
    // round 16: the two sf6 disk-bound holes outside the families above —
    // the classifier embeds the kNN graph, the split embeds the lexical
    // closure; both now read the staged relations
    "sim_knn_classifier", "sample_leakage_safe_split")

  test("staged map covers exactly the DuckDB-cost-bound class") {
    assert(StagedOracles.all.keySet === exclusionClass)
    StagedOracles.all.foreach { case (name, so) =>
      assert(so.stages.nonEmpty, name)
      // the final must read the LAST stage (earlier ones may only feed
      // later stages — e.g. stage_sh feeds stage_shf, never the final)
      assert(so.finalSql.contains(so.stages.last._1),
        s"$name final never reads ${so.stages.last._1}")
      // every staged final must keep clear of the QUADRATIC subtrees: the
      // shingle inverted-index scan and the embedding pair scan. (A linear
      // per-doc projection — dedup_cluster_reps' quality score — may
      // still tokenize; the cost class is the self-joins, not the scan.)
      assert(!so.finalSql.contains(Dedup.shingleIndexSql),
        s"$name final re-inlines the shingle index")
      assert(!so.finalSql.contains("embedding::DOUBLE[]"),
        s"$name final re-inlines the embedding scan")
    }
  }

  test("every declared staged query has a monolithic oracle with the same key") {
    val oracles = SparkEntry.oracleSql
    StagedOracles.all.keys.foreach(k => assert(oracles.contains(k), k))
  }

  test("stage tables are shared by content: same name means same sql") {
    val byName = StagedOracles.all.values.flatMap(_.stages).toSeq
      .groupBy(_._1).map { case (t, ss) => t -> ss.map(_._2).distinct }
    byName.foreach { case (t, sqls) =>
      assert(sqls.size === 1, s"stage $t has ${sqls.size} distinct builds")
    }
    // dependency order holds inside every stage list: a stage referencing
    // another stage table appears after it (word-boundary match —
    // "stage_sem" must not trip on "stage_sem_sym"/"stage_sem_lbl_*")
    StagedOracles.all.foreach { case (name, so) =>
      val names = so.stages.map(_._1)
      so.stages.zipWithIndex.foreach { case ((t, sql), i) =>
        names.drop(i + 1).foreach { later =>
          val hit = ("\\b" + java.util.regex.Pattern.quote(later) + "\\b").r
            .findFirstIn(sql).isDefined
          assert(!hit, s"$name: stage $t reads later stage $later")
        }
      }
    }
  }

  test("graph-family finals invert back to the monolithic oracles") {
    def restore(name: String, wrapped: Boolean): String = {
      val sub =
        if (wrapped) s"(\n${Similarity.knnGraphSql}\n)"
        else s"(${Similarity.knnGraphSql})"
      StagedOracles.all(name).finalSql.replace("stage_knng", sub)
    }
    assert(restore("sim_pagerank", wrapped = false) === Similarity.pagerankSql)
    assert(restore("sim_triangles", wrapped = false) === Similarity.trianglesSql)
    assert(restore("sim_kcore", wrapped = true) === Similarity.kcoreSql)
    assert(restore("sim_neighbor_jaccard", wrapped = true) ===
      Similarity.neighborJaccardSql)
    assert(restore("sim_assortativity", wrapped = true) ===
      Similarity.assortativitySql)
  }

  test("modularity staged final inverts back to the monolithic oracle") {
    // the monolithic oracle is the byte-identical concatenation of the
    // exposed CTE blocks
    assert(Similarity.modularitySql ===
      s"WITH ${Similarity.modularityUndCteSql},\n" +
        s"${Similarity.modularityDegCteSql},\n" +
        s"${Similarity.modularitySemAssignCtesSql},\n" +
        Similarity.modularityTailSql)
    val so = StagedOracles.all("sim_modularity")
    // und/assign are table-backed (round 16: the inlined-CTE final was
    // the last sf3/sf6 disk bomb — see stage_mod_* scaladoc); restoring
    // the two block texts reproduces the monolithic oracle byte-for-byte
    val restored = so.finalSql
      .replace("und AS (SELECT a, b FROM stage_mod_und)",
        Similarity.modularityUndCteSql)
      .replace("assign AS (SELECT vec_id, community, deg FROM stage_mod_assign)",
        Similarity.modularitySemAssignCtesSql)
    assert(restored === Similarity.modularitySql)
    // and the two stages are the same blocks over the staged subtrees
    val byName = so.stages.toMap
    assert(byName("stage_mod_und") ===
      "WITH " + Similarity.modularityUndCteSql
        .replace(s"(${Similarity.knnGraphSql})", "stage_knng") +
        "\nSELECT a, b FROM und")
    assert(byName("stage_mod_assign") ===
      "WITH und AS (SELECT a, b FROM stage_mod_und),\n" +
        Similarity.modularityDegCteSql + ",\n" +
        Similarity.modularitySemAssignCtesSql
          .replace(s"(${Similarity.semanticClustersSql})", "stage_sem") +
        "\nSELECT vec_id, community, deg FROM assign")
  }

  test("stage_knng four-stage pipeline: the monolithic kNN-graph oracle " +
    "is the byte-identical concatenation of the staged blocks") {
    // round 16: the MONOLITHIC stage_knng CTAS died of disk at sf6
    // (>62 GB temp — band-self-join DISTINCT, two vector-list joins, and
    // the top-k window sort concurrently in one out-of-core plan), so the
    // graph is built in four sequential sub-stages, each the matching CTE
    // block of the SAME monolithic text with upstream CTEs redirected to
    // the previous stage table.
    assert(Similarity.knnGraphSql ===
      s"${Similarity.knnGraphHeadSql},\n${Similarity.knnGraphCandSql},\n" +
        s"${Similarity.knnGraphScoredSql},\n${Similarity.knnGraphTailSql}")
    val byName = StagedOracles.all("sim_knn_graph").stages.toMap
    assert(byName("stage_knng_bands") ===
      Similarity.knnGraphHeadSql + "\nSELECT vec_id, tbl, bkey FROM bands")
    assert(byName("stage_knng_cand") ===
      "WITH bands AS (SELECT vec_id, tbl, bkey FROM stage_knng_bands),\n" +
        Similarity.knnGraphCandSql + "\nSELECT vec_id, neighbor_id FROM cand")
    assert(byName("stage_knng_scored") ===
      "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n" +
        "cand AS (SELECT vec_id, neighbor_id FROM stage_knng_cand),\n" +
        Similarity.knnGraphScoredSql +
        "\nSELECT vec_id, neighbor_id, cos_sim FROM scored")
    assert(byName("stage_knng") ===
      "WITH scored AS (SELECT vec_id, neighbor_id, cos_sim FROM stage_knng_scored),\n" +
        Similarity.knnGraphTailSql)
    // every kNN-graph consumer shares the identical pipeline bytes
    for (q <- Seq("sim_pagerank", "sim_triangles", "sim_kcore",
      "sim_neighbor_jaccard", "sim_assortativity", "sim_modularity",
      "sim_knn_classifier")) {
      val other = StagedOracles.all(q).stages.toMap
      Seq("stage_knng_bands", "stage_knng_cand", "stage_knng_scored",
        "stage_knng").foreach { t =>
        assert(other.get(t).contains(byName(t)), s"$q stage $t diverged")
      }
    }
  }

  test("stage_cospairs three-stage pipeline: the monolithic cosine-pairs " +
    "oracle is the byte-identical concatenation of the staged blocks") {
    assert(Similarity.embeddingCosinePairsSql ===
      s"${Similarity.cosinePairsHeadSql},\n${Similarity.cosinePairsCandSql}\n" +
        Similarity.cosinePairsTailSql)
    val byName = StagedOracles.all("sim_semantic_clusters").stages.toMap
    assert(byName("stage_cosp_bands") ===
      Similarity.cosinePairsHeadSql + "\nSELECT vec_id, tbl, bkey FROM bands")
    assert(byName("stage_cosp_cand") ===
      "WITH bands AS (SELECT vec_id, tbl, bkey FROM stage_cosp_bands),\n" +
        Similarity.cosinePairsCandSql + "\nSELECT vec_a, vec_b FROM cand")
    assert(byName("stage_cospairs") ===
      "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n" +
        "cand AS (SELECT vec_a, vec_b FROM stage_cosp_cand)\n" +
        Similarity.cosinePairsTailSql)
    // every cosine-pair consumer shares the identical pipeline bytes
    for (q <- Seq("sim_modularity", "dedup_cascade",
      "dedup_modality_agreement")) {
      val other = StagedOracles.all(q).stages.toMap
      Seq("stage_cosp_bands", "stage_cosp_cand", "stage_cospairs").foreach {
        t => assert(other.get(t).contains(byName(t)), s"$q stage $t diverged")
      }
    }
  }

  test("classifier and leakage-split staged finals invert back to the " +
    "monolithic oracles") {
    assert(StagedOracles.all("sim_knn_classifier").finalSql
      .replace("stage_knng", s"(\n${Similarity.knnGraphSql}\n)") ===
      Similarity.knnClassifierSql)
    assert(StagedOracles.all("sample_leakage_safe_split").finalSql
      .replace("stage_comp", s"(\n${Dedup.componentsSql}\n)") ===
      graft.operators.Sampling.leakageSafeSplitSql)
  }

  test("stage_sem iterative-closure pipeline: edges from the verbatim " +
    "pair stage, converged-or-error fixpoint, monolithic tail shape") {
    // round 13 replaced the quadratic WITH RECURSIVE stage (the sf3
    // cost-bound trio) with hook+compress min-label propagation; textual
    // inversion no longer applies to THIS stage, so the spec certifies
    // its structure instead (value equivalence is certified by the
    // in-oracle error() fixpoint assertion + the committed staged sweeps
    // at every scale where the recursive form still fits)
    val stages = StagedOracles.all("sim_semantic_clusters").stages
    val byName = stages.toMap
    // edges: both UNION directions of the SAME staged pair table the
    // round-12 form read — the input relation is unchanged
    assert(byName("stage_sem_sym") ===
      """SELECT vec_a AS a, vec_b AS b FROM stage_cospairs
        |UNION SELECT vec_b, vec_a FROM stage_cospairs""".stripMargin)
    assert(byName("stage_sem_lbl_0") ===
      "SELECT DISTINCT a AS id, a AS lbl FROM stage_sem_sym")
    // every propagation round present, each reading only its predecessor
    val rounds = stages.map(_._1).filter(_.matches("stage_sem_lbl_[1-9]\\d*"))
    assert(rounds.size >= 16, s"too few rounds for log2-diameter margin: $rounds")
    rounds.foreach { r =>
      val i = r.stripPrefix("stage_sem_lbl_").toInt
      val sql = byName(r)
      assert(sql.contains(s"stage_sem_lbl_${i - 1}"), s"$r missing input")
      assert(sql.contains("LEAST") && sql.contains("MIN(c.lbl)"),
        s"$r lost the hook/compress arithmetic")
    }
    val last = rounds.map(_.stripPrefix("stage_sem_lbl_").toInt).max
    // the fixpoint assertion errors (never silently serves) on any edge
    // still joining two labels after the last round
    val fix = byName("stage_sem_fix")
    assert(fix.contains("error(") && fix.contains(s"stage_sem_lbl_$last")
      && fix.contains("a.lbl <> b.lbl"))
    assert(stages.map(_._1).indexOf("stage_sem_fix") <
      stages.map(_._1).indexOf("stage_sem"),
      "the fixpoint assertion must run before stage_sem is built")
    // the final labeling-to-clusters tail mirrors the monolithic text
    // (same grouping, same projection, same ORDER BY)
    val sem = byName("stage_sem")
    assert(sem.contains(s"stage_sem_lbl_$last"))
    assert(sem.contains("sz AS (SELECT comp, COUNT(*) AS cluster_size FROM comp GROUP BY comp)"))
    assert(sem.contains("SELECT id AS vec_id, comp.comp AS cluster_root, cluster_size"))
    assert(sem.trim.endsWith("ORDER BY vec_id"))
    assert(Similarity.semanticClustersSql.contains(
      "sz AS (SELECT comp, COUNT(*) AS cluster_size FROM comp GROUP BY comp)"))
    // the three closure consumers share the identical pipeline bytes
    for (q <- Seq("sim_modularity", "dedup_cascade")) {
      val other = StagedOracles.all(q).stages.toMap
      (Seq("stage_sem_sym", "stage_sem_lbl_0", "stage_sem_fix", "stage_sem")
        ++ rounds).foreach { t =>
        assert(other.get(t).contains(byName(t)), s"$q stage $t diverged")
      }
    }
  }

  test("cascade staged final's body is byte-identical to the monolithic " +
    "body; only the closure head and the sem subtree are swapped") {
    val so = StagedOracles.all("dedup_cascade")
    val monoTail = Dedup.cascadeSql
      .replace(s"(\n${Similarity.semanticClustersSql}\n)", "stage_sem")
    val fromS1 = monoTail.substring(monoTail.indexOf("s1 AS ("))
    assert(so.finalSql ===
      "WITH comp AS (SELECT doc_id, component_root FROM stage_comp),\n" + fromS1)
  }

  test("stage_comp iterative-closure pipeline: edges from the verbatim " +
    "LSH pair stage, converged-or-error fixpoint, monolithic tail shape") {
    // round 15 ports the round-13 stage_sem replacement to the LEXICAL
    // closure (the sf3 disk-bound class of round 14) — same structural
    // certification: value equivalence via the in-oracle error() fixpoint
    // assertion + committed staged sweeps at every scale the recursive
    // form fits (sf0.01/0.1/1)
    val stages = StagedOracles.all("dedup_components").stages
    val byName = stages.toMap
    // the edge relation is the verbatim standalone LSH-pairs oracle, both
    // UNION directions — exactly the monolithic core's p/sym CTEs
    assert(byName("stage_lshpairs") === Dedup.minhashLshSql)
    assert(byName("stage_comp_sym") ===
      """SELECT doc_a AS a, doc_b AS b FROM stage_lshpairs
        |UNION SELECT doc_b, doc_a FROM stage_lshpairs""".stripMargin)
    assert(Dedup.componentsSql.contains(
      "sym AS (SELECT doc_a AS a, doc_b AS b FROM p\n" +
        "        UNION SELECT doc_b, doc_a FROM p)"))
    assert(byName("stage_comp_lbl_0") ===
      "SELECT DISTINCT a AS id, a AS lbl FROM stage_comp_sym")
    // every propagation round present, each reading only its predecessor,
    // byte-identical to the certified sem rounds modulo the prefix
    val rounds = stages.map(_._1).filter(_.matches("stage_comp_lbl_[1-9]\\d*"))
    assert(rounds.size >= 16, s"too few rounds for log2-diameter margin: $rounds")
    val semByName = StagedOracles.all("sim_semantic_clusters").stages.toMap
    rounds.foreach { r =>
      val i = r.stripPrefix("stage_comp_lbl_").toInt
      val sql = byName(r)
      assert(sql.contains(s"stage_comp_lbl_${i - 1}"), s"$r missing input")
      assert(sql === semByName(s"stage_sem_lbl_$i")
        .replace("stage_sem", "stage_comp"),
        s"$r diverged from the certified sem round")
    }
    val last = rounds.map(_.stripPrefix("stage_comp_lbl_").toInt).max
    val fix = byName("stage_comp_fix")
    assert(fix.contains("error(") && fix.contains(s"stage_comp_lbl_$last")
      && fix.contains("a.lbl <> b.lbl"))
    assert(stages.map(_._1).indexOf("stage_comp_fix") <
      stages.map(_._1).indexOf("stage_comp"),
      "the fixpoint assertion must run before stage_comp is built")
    // the final labeling-to-components tail projects the monolithic
    // column names in the monolithic order
    assert(byName("stage_comp") ===
      s"""SELECT id AS doc_id, lbl AS component_root
         |FROM stage_comp_lbl_$last
         |ORDER BY doc_id""".stripMargin)
    assert(Dedup.componentsSql.contains(
      "SELECT id AS doc_id, MIN(r) AS component_root"))
    // every lexical-closure consumer shares the identical pipeline bytes
    for (q <- Seq("dedup_cluster_keep", "dedup_cluster_reps", "dedup_cascade")) {
      val other = StagedOracles.all(q).stages.toMap
      (Seq("stage_lshpairs", "stage_comp_sym", "stage_comp_lbl_0",
        "stage_comp_fix", "stage_comp") ++ rounds).foreach { t =>
        assert(other.get(t).contains(byName(t)), s"$q stage $t diverged")
      }
    }
  }

  test("lexical-closure consumer finals are the monolithic bodies with " +
    "only the closure head swapped for the stage_comp read") {
    val head = s"WITH RECURSIVE ${Dedup.componentsCoreSql},\n" +
      "comp AS (SELECT id AS doc_id, MIN(r) AS component_root\n" +
      "         FROM reach GROUP BY id),\n"
    def headSwapped(mono: String, tailStart: String): String = {
      assert(mono.startsWith(head), "closure head not verbatim")
      assert(mono.substring(head.length).startsWith(tailStart))
      "WITH comp AS (SELECT doc_id, component_root FROM stage_comp),\n" +
        mono.substring(head.length)
    }
    assert(StagedOracles.all("dedup_cluster_keep").finalSql ===
      headSwapped(Dedup.clusterKeepSql, "sz AS ("))
    assert(StagedOracles.all("dedup_cluster_reps").finalSql ===
      headSwapped(Dedup.clusterRepsSql, "q AS ("))
    assert(StagedOracles.all("dedup_components").finalSql ===
      "SELECT doc_id, component_root FROM stage_comp ORDER BY doc_id")
    // and the monolithic components oracle produces those columns
    assert(Dedup.componentsSql.contains("doc_id") &&
      Dedup.componentsSql.contains("component_root"))
  }

  test("LSH-pairs and recall staged finals invert back to the monolithic " +
    "oracles") {
    assert(StagedOracles.all("dedup_minhash_lsh").finalSql ===
      "SELECT doc_a, doc_b, est_jaccard, jaccard FROM stage_lshpairs " +
        "ORDER BY doc_a, doc_b")
    assert(Dedup.minhashLshSql.contains("SELECT doc_a, doc_b, est_jaccard,"))
    val rec = StagedOracles.all("dedup_lsh_recall").finalSql
      .replace("stage_lexpairs", s"(\n${Dedup.ngramJaccardSql}\n)")
      .replace("stage_lshpairs", s"(\n${Dedup.minhashLshSql}\n)")
    assert(rec === Dedup.lshRecallSql)
  }

  test("shingle-family finals invert back to the monolithic oracles") {
    val shfPrefix =
      s"WITH ${Dedup.shingleIndexSql},\n${Dedup.cappedShingleIndexSql},"
    val interDef =
      """inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |          FROM shf a JOIN shf b
        |            ON a.h = b.h AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)""".stripMargin
    def unswapShf(s: String): String = s
      .replace("WITH sh AS (SELECT doc_id, h FROM stage_sh),\n" +
        "shf AS (SELECT doc_id, h FROM stage_shf),", shfPrefix)
      .replace("WITH shf AS (SELECT doc_id, h FROM stage_shf),", shfPrefix)
      .replace("inter AS (SELECT doc_a, doc_b, n_common FROM stage_inter)",
        interDef)
    assert(unswapShf(StagedOracles.all("dedup_weighted_jaccard").finalSql) ===
      Dedup.weightedJaccardSql)
    assert(unswapShf(StagedOracles.all("dedup_threshold_sweep").finalSql) ===
      Dedup.thresholdSweepSql)
    // bbit (round 16): the three audit-relation blocks are swapped as
    // units (the truth block embeds interDef, so the inter swap happens
    // inside the stage, not the final) — and the monolithic oracle is the
    // byte-identical concatenation of those blocks
    assert(Dedup.bbitMinhashSql.contains(
      s"${Dedup.bbitSigCtesSql},\n${Dedup.bbitBcandCtesSql},\n" +
        s"${Dedup.bbitFcandCtesSql},\n${Dedup.bbitTruthCtesSql}"))
    assert(unswapShf(StagedOracles.all("dedup_bbit_minhash").finalSql
      .replace("bcand AS (SELECT doc_a, doc_b FROM stage_bbit_bcand)",
        Dedup.bbitBcandCtesSql)
      .replace("fcand AS (SELECT doc_a, doc_b FROM stage_bbit_fcand)",
        Dedup.bbitFcandCtesSql)
      .replace("truth AS (SELECT doc_a, doc_b FROM stage_bbit_truth)",
        Dedup.bbitTruthCtesSql)) ===
      Dedup.bbitMinhashSql)
    // the three audit stages read only staged inputs and end in the
    // block's own relation
    val bbitStages = StagedOracles.all("dedup_bbit_minhash").stages.toMap
    assert(bbitStages("stage_bbit_bcand").endsWith(
      "SELECT doc_a, doc_b FROM bcand"))
    assert(bbitStages("stage_bbit_fcand").endsWith(
      "SELECT doc_a, doc_b FROM fcand"))
    assert(bbitStages("stage_bbit_truth").endsWith(
      "SELECT doc_a, doc_b FROM truth"))
    assert(bbitStages("stage_bbit_truth").contains(
      "inter AS (SELECT doc_a, doc_b, n_common FROM stage_inter)"))
    val ma = StagedOracles.all("dedup_modality_agreement").finalSql
      .replace("stage_lexpairs", s"(\n${Dedup.ngramJaccardSql}\n)")
      .replace("stage_cospairs", s"(\n${Similarity.embeddingCosinePairsSql}\n)")
    assert(ma === Dedup.modalityAgreementSql)
  }

  test("closure-output finals project exactly the monolithic output columns") {
    assert(StagedOracles.all("sim_knn_graph").finalSql ===
      "SELECT vec_id, neighbor_id, rank, cos_sim FROM stage_knng " +
        "ORDER BY vec_id, rank")
    assert(StagedOracles.all("sim_semantic_clusters").finalSql ===
      "SELECT vec_id, cluster_root, cluster_size FROM stage_sem " +
        "ORDER BY vec_id")
    // and the monolithic oracles do produce those columns in that order
    assert(Similarity.knnGraphSql.contains(
      "SELECT vec_id, neighbor_id, rank, cos_sim"))
    assert(Similarity.semanticClustersSql.contains(
      "SELECT id AS vec_id, comp.comp AS cluster_root, cluster_size"))
  }

  test("stage json is loadable-shaped (quoted, no raw control chars)") {
    val j = StagedOracles.json
    assert(j.startsWith("{") && j.endsWith("}"))
    assert(!j.exists(c => c == '\n' || c == '\r' || c == '\t'))
    assert(j.contains("\"dedup_cascade\"") && j.contains("\"sim_modularity\""))
    assert(j.contains("\"stages\"") && j.contains("\"final\""))
  }

  test("staged semantic closure guard: an under-rounded pipeline leaves " +
    "edges joining two labels (the error() predicate trips); the " +
    "doubling bound converges a long path within its predicted rounds") {
    // exact Scala model of StagedOracles.semRound: hook (neighbor min) →
    // h = min(cur, hook) → compress lbl ← min(h, h[h]) — certifying the
    // f ← 2f+2 claim and the guard itself, which DuckDB-only execution
    // keeps out of reach of the sbt suite (the oracle engine is
    // driver-side; this pins the algebra the SQL implements)
    def propagate(sym: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
      var lbl = sym.map(_._1).distinct.map(id => id -> id).toMap
      for (_ <- 1 to rounds) {
        val hook = sym.groupBy(_._1).map { case (a, es) =>
          a -> es.map(e => lbl(e._2)).min }
        val h = lbl.map { case (id, l) =>
          id -> math.min(l, hook.getOrElse(id, l)) }
        lbl = h.map { case (id, l) => id -> math.min(l, h.getOrElse(l, l)) }
      }
      lbl
    }
    def unconvergedEdges(sym: Seq[(Long, Long)], lbl: Map[Long, Long]): Int =
      sym.count(e => lbl(e._1) != lbl(e._2))
    val n = 2000L
    val edges = (0L until n - 1).map(i => (i, i + 1))
    val sym = edges ++ edges.map(_.swap)
    // f_r = 2^(r+1) − 2 reach ⇒ a path of diameter 1999 needs ≤ 10 rounds
    val bound = (1 to 30).find(r => (1L << (r + 1)) - 2 >= n - 1).get
    assert(bound === 10)
    val minimal = (1 to bound).find(r =>
      unconvergedEdges(sym, propagate(sym, r)) == 0)
    assert(minimal.isDefined,
      s"doubling bound violated: $bound rounds did not converge a $n-path")
    // the guard: one round short of minimal, stage_sem_fix's COUNT(*) is
    // nonzero — the error() branch fires instead of serving bad labels
    val short = propagate(sym, minimal.get - 1)
    assert(unconvergedEdges(sym, short) > 0,
      "under-rounded pipeline converged — the guard test is vacuous")
    // converged labeling is edge-uniform at the component minimum
    val done = propagate(sym, minimal.get)
    assert(done.values.toSet === Set(0L))
  }
}
