package graft.operators

import org.apache.spark.GraftSpark
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components by MIN-LABEL PROPAGATION with
  * POINTER JUMPING — the one fixpoint both dedup tiers (lexical MinHash
  * pairs, semantic cosine pairs) run over their near-dup graphs — and
  * [[fixpoint]], the loop it shares with the k-core peel
  * ([[Similarity.kcore]]).
  *
  * Each round every node adopts the minimum of: its label, its neighbors'
  * labels, and its label's label (the shortcut — pointer jumping). The
  * shortcut is what makes the round count O(log diameter) instead of
  * O(diameter): neighbor-only propagation walks one hop per round and,
  * under a round cap, emitted a pre-fixpoint labeling on a >20-hop
  * near-dup chain (caught by an sf0.1 oracle sweep). The fixpoint is a
  * pure function of the edge set — deterministic, and reproduced by the
  * DuckDB oracle as a recursive transitive closure.
  *
  * Scale posture: the near-dup graph is orders of magnitude smaller than
  * the corpus (only docs in a verified pair appear), one join per round.
  * This is the GraphX/GraphFrames iteration shape; production on a real
  * cluster would use reliable `checkpoint()` to survive executor loss.
  */
object Graph {

  /** Parallelism of the fixpoint's edge relation: the session's shuffle
    * partitioning. Every round's join and aggregate already runs at
    * `spark.sql.shuffle.partitions`; pinning the checkpointed edge set to a
    * different (hardcoded) width would cap the whole fixpoint at that width
    * regardless of cluster size. Deriving it from the session setting keeps
    * the explicit partition-by-probe-key co-location while letting the same
    * code run at 32 partitions locally and thousands on a cluster. */
  private[graft] def fixpointPartitions(spark: SparkSession): Int =
    spark.sessionState.conf.numShufflePartitions

  /** The symmetrized, probe-key-partitioned, checkpointed edge relation the
    * fixpoint iterates over (exposed for plan/partitioning assertions). */
  private[graft] def symmetrized(spark: SparkSession, edges: DataFrame): DataFrame = {
    val Seq(aName, bName) = edges.columns.toSeq.take(2)
    edges.select(col(aName).as("a"), col(bName).as("b"))
      .unionByName(edges.select(col(bName).as("a"), col(aName).as("b")))
      .repartition(fixpointPartitions(spark), col("a"))
      .localCheckpoint(eager = false)
  }

  /** Components of the undirected graph given by two long edge columns.
    * Returns (id, comp) with comp = the component's minimum node id. Labels
    * never increase, so an unchanged label sum means no label changed. */
  def components(spark: SparkSession, edges: DataFrame): DataFrame = {
    val sym = symmetrized(spark, edges)
    // seed one propagation step ahead: comp₀ = min(id, neighbors) — the
    // groupBy runs on sym's partition key, no extra exchange
    val seed = sym.groupBy(col("a"))
      .agg(min(col("b")).as("mn"))
      .select(col("a").as("id"), least(col("a"), col("mn")).as("comp"))
    val labelSum = (labels: DataFrame) => {
      val row = labels.agg(sum(col("comp"))).collect()(0)
      if (row.isNullAt(0)) 0L else row.getLong(0) // empty graph
    }
    val (labels, _) = fixpoint(seed, labelSum) { labels =>
      labels.select(col("id"), col("comp"))
        .unionByName(labels.join(sym, col("id") === col("a"))
          .select(col("b").as("id"), col("comp")))
        .unionByName(labels.as("l1")
          .join(labels.as("l2"), col("l1.comp") === col("l2.id"))
          .select(col("l1.id"), col("l2.comp").as("comp")))
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
    }
    GraftSpark.release(sym) // the labels are materialized and no longer read it
    labels
  }

  /** Iterate `step` from `start` to its fixpoint and return the last
    * generation with its measure.
    *
    * Each generation is a lazy `localCheckpoint`, so the one aggregate
    * `measure` runs over it per round is also the job that materializes it
    * and truncates its lineage; the generation before is then released.
    * `measure` must be monotone in the generations `step` produces, so a
    * repeated value means `step` changed nothing: there is no round cap,
    * which would return a pre-fixpoint generation. `stop` ends the loop
    * early on a measure (the k-core's single-task finish threshold). */
  private[operators] def fixpoint(start: DataFrame, measure: DataFrame => Long,
      stop: Long => Boolean = _ => false)(
      step: DataFrame => DataFrame): (DataFrame, Long) = {
    var cur = start.localCheckpoint(eager = false)
    var m = measure(cur)
    var done = stop(m)
    while (!done) {
      val next = step(cur).localCheckpoint(eager = false)
      val nextM = measure(next)
      GraftSpark.release(cur)
      done = nextM == m || stop(nextM)
      cur = next
      m = nextM
    }
    (cur, m)
  }
}
