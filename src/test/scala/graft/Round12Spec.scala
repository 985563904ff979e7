package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.TwoPass

/** Round-12 additions: the sampled b-bit audit regime and the TwoPass
  * regime rule. The gated-window regime cases live in TwoPassSpec.
  */
class Round12Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

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

  test("overGate probe never pulls more than gate+1 rows and flips " +
    "exactly at the gate") {
    // the regime is the caller's row count against the gate: the
    // single-task window at rows = gate (deciding it launches no job), the
    // per-bucket form at gate + 1, with the same values
    import spark.implicits._
    import org.apache.spark.GraftSpark
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val df = (1 to 50).map(i => (i.toLong, (i % 7).toLong)).toDF("id", "v")
    val forms = Seq[(String, (Long, Long) => DataFrame)](
      "prefixSum" -> ((rows, gate) => TwoPass.prefixSum(df, "id", "v", "c", rows, gate)),
      "prefixMaxExclusiveRange" -> ((rows, gate) =>
        TwoPass.prefixMaxExclusiveRange(df, "id", "v", "c", rows, gate)),
      "ntileDesc" -> ((rows, gate) => TwoPass.ntileDesc(df, "v", "id", 4, "c", rows, gate)))
    def perBucket(out: DataFrame): Boolean =
      out.queryExecution.analyzed.toString.contains("__bid")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try forms.foreach { case (name, form) =>
      GraftSpark.drainListenerBus(sc)
      jobs.set(0)
      val single = form(50L, 50L)
      GraftSpark.drainListenerBus(sc)
      withClue(name)(assert(jobs.get == 0 && !perBucket(single)))
      val distributed = form(51L, 50L)
      withClue(name)(assert(perBucket(distributed)))
      val rows = (d: DataFrame) => d.orderBy("id").collect().toSeq
      withClue(name)(assert(rows(single) == rows(distributed)))
    } finally sc.removeSparkListener(listener)
  }
}
