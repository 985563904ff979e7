package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-10 additions: the de-vacuized set-ops gate (the hybrid k-core
  * peel's specs live in GraphSpec). */
class Round10Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("rel_set_ops returns a NON-EMPTY, non-total cohort (the gate " +
    "compares real rows, not empty-vs-empty)") {
    val dir = TestSpark.Sf0001
    val got = operators.Relational.setOps(spark, dir).collect()
      .map(_.getLong(0)).toSet
    assert(got.nonEmpty, "EXCEPT chain must keep some buyers")
    // users who clicked AND purchased
    val ev = Tables.events(spark, dir)
    def ids(t: String) = ev.filter(col("event_type") === t)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    val base = ids("click") & ids("purchase")
    assert(got.subsetOf(base))
    assert(got.size < base.size,
      "the date-bounded error window must exclude at least one user")
    // independent reimplementation of the bounded EXCEPT side
    val launchErrors = ev.filter(col("event_type") === "error" &&
        col("ts") < lit("2024-01-03").cast("timestamp"))
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    assert(got === (base -- launchErrors))
  }
}
