package graft

import graft.functions.VectorFns
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen'd CosineSimilarity expression must be bit-identical to the
  * composed zip_with/aggregate form (same left-to-right fold), on real
  * embeddings and on ragged/edge inputs. */
class CosineFastSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  test("cosineFast == HOF cosine bit-for-bit on the embeddings table") {
    val e = Tables.embeddings(spark, TestSpark.Sf0001)
      .select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("v"))
    val a = e.limit(50).select(col("vec_id").as("ia"), col("v").as("va"))
    val pairs = a.crossJoin(e.limit(50))
    val diff = pairs.select(
      VectorFns.cosineFast(col("va"), col("v")).as("fast"),
      VectorFns.cosine(col("va"), col("v")).as("hof"))
      .filter(not(col("fast") <=> col("hof")))
      .count()
    assert(diff == 0)
  }

  test("cosineFast edge cases: nulls propagate, identical vectors → 1.0") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0, 2.0)), Some(Seq(1.0, 2.0, 2.0))),
      (None, Some(Seq(1.0, 2.0, 2.0))),
      (Some(Seq(3.0, 4.0)), None))
      .toDF("a", "b")
    val out = df.select(VectorFns.cosineFast(col("a"), col("b"))).collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-15)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0))
  }

  test("cosineFast participates in whole-stage codegen") {
    val e = Tables.embeddings(spark, TestSpark.Sf0001)
      .select(VectorFns.cosineFast(
        VectorFns.toDouble(col("embedding")), VectorFns.toDouble(col("embedding"))).as("c"))
    val plan = e.queryExecution.executedPlan.toString
    // '*(n)' marks operators inside a WholeStageCodegen region
    assert(plan.linesIterator.exists(l =>
      l.contains("cosine_similarity") && l.contains("*(")), plan.take(800))
  }

  test("native dotFast is bit-identical to the HOF dot fold") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFns
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("v"))
    val mism = e.select(
        VectorFns.dot(col("v"), col("v")).as("hof"),
        VectorFns.dotFast(col("v"), col("v")).as("native"))
      // bit-level comparison: NaN-safe via the eqNullSafe of raw doubles
      // is not enough for -0.0 vs 0.0 — compare the IEEE bit patterns
      .filter(expr("cast(hof as string) <> cast(native as string)"))
      .count()
    assert(mism == 0L, s"$mism rows where dotFast diverges from the HOF dot")
  }
}
