package graft

import graft.operators.{Dedup, EventTime, Multimodal, Relational, Sampling, Similarity, TextAnalysis}
import org.apache.spark.GraftSpark
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Plan-identity recorder: the optimized logical plan of every Spark
  * execution that building and running each declared query (and the
  * producer and probe variants no declared query reaches) sets off, so a
  * refactor that claims "no plan change" can be checked against its parent
  * with `tools/plan_diff.py`.
  *
  * {{{
  * sbt "Test/runMain graft.PlanRecord <sfDir> <out.jsonl>"
  * python3 tools/plan_diff.py parent.jsonl change.jsonl
  * }}}
  *
  * Run it in a fresh JVM with no artifact root configured, so every
  * artifact is built (and recorded) inside the run. Each query runs to the
  * `noop` sink and the listener bus is drained before the next one, so an
  * execution is tagged with the query that set it off: artifact writes,
  * `Tables.rows` counts and loop checkpoints included. One JSON line per
  * execution: the tag, the normalized `optimizedPlan` string and the
  * planned physical operators (`sparkPlan` node names, pre-order), which
  * tell a spelling-only difference from a real one. Every record holds
  * the full entry list in one order, so an artifact is recorded under the
  * same (first) entry that builds it and any two records compare. */
object PlanRecord {

  /** Entries beyond the declared queries: producers behind artifacts,
    * non-default geometries, forced regimes and the recall probes. */
  private def variants(spark: SparkSession, dir: String): Seq[(String, () => DataFrame)] = {
    lazy val bits = Similarity.bandBits(Tables.rows(spark, dir, "embeddings"))
    Seq(
      "v:dedup_minhash_lsh_16x4" -> (() => Dedup.minhashLsh(spark, dir, numPerms = 16, numBands = 4)),
      "v:dedup_simhash_pairs_6x10" -> (() =>
        Dedup.simhashPairs(spark, dir, nBands = 6, bandBits = 10, hammingMax = 5)),
      "v:dedup_bbit_minhash_t100" -> (() => Dedup.bbitMinhashWithTarget(spark, dir, 100L)),
      "v:dedup_capped_shingle_index_build" -> (() => Dedup.cappedShingleIndexBuild(spark, dir)),
      "v:dedup_pair_intersections_build" -> (() => Dedup.pairIntersectionsBuild(spark, dir)),
      "v:sim_bf_topk_build" -> (() => Similarity.bruteForceTopKBuild(spark, dir)),
      "v:sim_lsh_topk_build" -> (() => Similarity.lshTopKBuild(spark, dir)),
      "v:sim_cosine_pairs_build" -> (() => Similarity.embeddingCosinePairsBuild(spark, dir)),
      "v:sim_knn_graph_build" -> (() => Similarity.knnGraphBuild(spark, dir)),
      "v:sim_pq_topk_build" -> (() => Similarity.pqTopKBuild(spark, dir)),
      "v:sim_ivfpq_topk_build" -> (() => Similarity.ivfPqTopKBuild(spark, dir)),
      "v:sim_pca_power_build" -> (() => Similarity.pcaPowerBuild(spark, dir)),
      "v:sim_kmeans_assign_inline" -> (() => Similarity.kmeansAssignInline(spark, dir)),
      "v:sim_ivf_kmeans_topk_inline" -> (() => Similarity.ivfKmeansTopKInline(spark, dir)),
      "v:sim_kcore_local0" -> (() => Similarity.kcoreWithThreshold(spark, dir, 0L)),
      "v:sim_probe_candidates" -> (() =>
        Similarity.probeCandidates(spark, dir, bits, 8, multiprobe = false, nQ = 16)),
      "v:sim_probe_candidates_multi" -> (() =>
        Similarity.probeCandidates(spark, dir, bits, 8, multiprobe = true, nQ = 16)),
      "v:sim_recall_probe_at" -> (() => Similarity.recallProbeAt(spark, dir,
        Similarity.probeCandidates(spark, dir, bits, 8, multiprobe = false, nQ = 16), 16)),
      "v:sim_recall_theta_profile" -> (() => Similarity.recallThetaProfile(spark, dir,
        Similarity.probeCandidates(spark, dir, bits, 8, multiprobe = false, nQ = 16), 16)),
      "v:sim_planted_theta_recall" -> (() => Similarity.plantedThetaRecall(spark, dir,
        bits, 8, multiprobe = false, nQ = 8, perCell = 3)),
      "v:text_bigram_lm_build" -> (() => TextAnalysis.bigramLmBuild(spark, dir)),
      "v:text_token_shards_gate0" -> (() => TextAnalysis.tokenShardsWithGate(spark, dir, 0L)),
      "v:mm_shard_manifest_gate0" -> (() => Multimodal.shardManifestWithGate(spark, dir, 0L)),
      "v:sample_curriculum_gate0" -> (() => Sampling.curriculumWithGate(spark, dir, 0L)),
      "v:events_power_users_gate0" -> (() => EventTime.powerUsersWithGate(spark, dir, 0L)),
      "v:rel_skyline_gate0" -> (() => Relational.skylineWithGate(spark, dir, 0L)))
  }

  /** Strip what differs between two runs of identical code: expression
    * ids, the per-JVM artifact root, the artifacts' sequence suffixes and
    * object hashes. */
  private def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+L?", "#")
      .replaceAll("graft-artifacts-\\d+", "graft-artifacts-N")
      .replaceAll("(graft-artifacts-N/\\w+?)_\\d+\\b", "$1_N")
      .replaceAll("(graft_art_\\w+?)_\\d+\\b", "$1_N")
      .replaceAll("\\$\\$Lambda\\$?\\d*/0x[0-9a-f]+", "\\$\\$Lambda")
      .replaceAll("@[0-9a-f]{4,}\\b", "@H")

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var tag = "setup"
    val rows = new ConcurrentLinkedQueue[String]
    def record(qe: QueryExecution, error: Option[Exception]): Unit = {
      val ops = qe.sparkPlan.collect { case p => Jsons.quote(p.nodeName) }
      rows.add(s"""{"query": ${Jsons.quote(tag)}, """ +
        s""""plan": ${Jsons.quote(normalize(qe.optimizedPlan.toString))}, """ +
        s""""ops": ${ops.mkString("[", ", ", "]")}""" +
        error.fold("")(e => s""", "error": ${Jsons.quote(e.getClass.getName)}""") + "}")
    }
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe, None)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe, Some(e))
    })
    val entries = SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (n, fn) => n -> (() => fn(spark, dir)) } ++ variants(spark, dir)
    entries.foreach { case (name, build) =>
      GraftSpark.drainListenerBus(spark.sparkContext)
      tag = name
      try build().write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) => System.err.println(s"[plan-record] $name failed: ${e.getMessage}") }
      GraftSpark.drainListenerBus(spark.sparkContext)
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(out), rows.asScala.mkString("", "\n", "\n"))
    System.err.println(s"[plan-record] ${rows.size} executions -> $out")
    spark.stop()
  }
}
