package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 additions: sequence packing, survival curve, incremental
  * aggregate maintenance, and the IVF+PQ composite. Each test asserts the
  * operator's defining law against an independent recomputation, not just
  * shape.
  */
class Round9bSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  test("pack_sequences: manifest conserves tokens and seq counts are exact") {
    import graft.operators.Sampling
    val rows = Sampling.packSequences(spark, dir).collect()
    assert(rows.nonEmpty)
    val corpusTokens = Tables.documents(spark, dir)
      .select(sum(size(split(trim(col("text")), "\\s+"))).cast("long"))
      .head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum === corpusTokens,
      "packing must conserve every token across shards")
    val C = 2048L
    rows.foreach { r =>
      val tokens = r.getAs[Long]("n_tokens")
      val seqs = r.getAs[Long]("n_seqs")
      assert(seqs === (tokens - 1) / C + 1, s"shard ${r.getAs[Long]("shard")}")
      val tail = r.getAs[Long]("tail_fill")
      assert(tail > 0 && tail <= C)
      assert(r.getAs[Long]("straddling_docs") <= r.getAs[Long]("n_docs"))
      // at most one straddle per sequence boundary
      assert(r.getAs[Long]("straddling_docs") <= seqs - 1)
    }
  }

  test("survival: S starts at 1, n_surviving is a decreasing tail count") {
    import graft.operators.EventTime
    val rows = EventTime.survival(spark, dir)
      .orderBy("lifetime_days").collect()
    assert(rows.nonEmpty)
    val totalUsers = Tables.events(spark, dir)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_users")).sum === totalUsers)
    assert(rows.head.getAs[Double]("survival") === 1.0,
      "every user survives at least to the minimum observed lifetime")
    assert(rows.head.getAs[Long]("n_surviving") === totalUsers)
    // tail counts strictly decrease as the lifetime threshold rises
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("n_surviving") ===
          a.getAs[Long]("n_surviving") - a.getAs[Long]("n_users"))
      case _ =>
    }
  }

  test("incremental_agg: state ⊎ delta equals the full recompute exactly") {
    import graft.operators.Relational
    val merged = Relational.incrementalAgg(spark, dir)
      .orderBy("o_orderstatus").collect()
    val full = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        Q.dec2(sum(Q.dec(col("o_totalprice")))).as("total_price"),
        Q.dec2(max(Q.dec(col("o_totalprice")))).as("max_price"))
      .orderBy("o_orderstatus").collect()
    assert(merged.length === full.length && merged.length > 0)
    merged.zip(full).foreach { case (m, f) =>
      assert(m.getAs[String]("o_orderstatus") === f.getAs[String]("o_orderstatus"))
      assert(m.getAs[Long]("n_orders") === f.getAs[Long]("n_orders"))
      assert(m.getAs[Double]("total_price") === f.getAs[Double]("total_price"),
        "decimal partial-aggregate merge must be exact, not approximately equal")
      assert(m.getAs[Double]("max_price") === f.getAs[Double]("max_price"))
    }
  }

  test("modularity: degree accounting closes and Q terms are bounded") {
    import graft.operators.Similarity
    val rows = Similarity.modularity(spark, dir).collect()
    assert(rows.nonEmpty)
    val totalDeg = rows.head.getAs[Long]("total_deg")
    assert(rows.forall(_.getAs[Long]("total_deg") === totalDeg))
    assert(rows.map(_.getAs[Long]("deg_sum")).sum === totalDeg,
      "community degree sums must partition the graph's 2m endpoint count")
    assert(rows.map(_.getAs[Long]("e_in")).sum * 2 <= totalDeg,
      "intra-community edges cannot exceed the graph's edge count")
    rows.foreach { r =>
      val q = r.getAs[Double]("modularity")
      assert(q >= -1.0 && q <= 1.0)
    }
    // clustered communities exist (the corpus has near-dup structure)
    assert(rows.exists(_.getAs[Long]("n_nodes") > 1))
  }

  test("leakage-safe split: no verified near-dup pair straddles splits") {
    import graft.operators.{Dedup, Sampling}
    val split = Sampling.leakageSafeSplit(spark, dir)
      .select(col("doc_id"), col("split"))
    val pairs = Dedup.minhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
    assert(pairs.count() > 0, "corpus must contain verified near-dup pairs")
    val straddling = pairs
      .join(split.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "sa"), Seq("doc_a"))
      .join(split.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "sb"), Seq("doc_b"))
      .filter(col("sa") =!= col("sb"))
      .count()
    assert(straddling === 0L,
      "cluster-keyed hashing must put every near-dup pair in one split")
    // all three splits actually materialize
    val splits = split.select(col("split")).distinct().collect().map(_.getString(0))
    assert(splits.toSet === Set("train", "val", "test"))
  }

  test("ivfpq: ADC distances agree with whole-corpus PQ on shared pairs") {
    import graft.operators.Similarity
    val ivfpq = Similarity.ivfPqTopK(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("approx_d2"), col("rank"))
    // ranks are contiguous 1..n per query
    val ranks = ivfpq.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n"), min(col("rank")).as("lo"), max(col("rank")).as("hi"))
      .collect()
    assert(ranks.nonEmpty)
    ranks.foreach { r =>
      assert(r.getAs[Int]("lo") === 1)
      assert(r.getAs[Int]("hi").toLong === r.getAs[Long]("n"))
      assert(r.getAs[Long]("n") <= 10)
    }
    // where a (query, neighbor) pair also appears in the whole-corpus PQ
    // top-k, the ADC distance is identical — same codes, same table
    val pq = Similarity.pqTopK(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("approx_d2").as("pq_d2"))
    val joined = ivfpq.join(pq, Seq("query_id", "neighbor_id")).collect()
    assert(joined.nonEmpty, "IVF candidates should overlap the global PQ top-k")
    joined.foreach(r =>
      assert(r.getAs[Long]("approx_d2") === r.getAs[Long]("pq_d2")))
  }
}
