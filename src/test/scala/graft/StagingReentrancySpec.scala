package graft

import org.scalatest.funsuite.AnyFunSuite

/** A roundtrip query's DataFrame stays valid after the same query is built
  * again: each stages its sink write-once per input, so a second build must
  * not rewrite the files the first DataFrame reads. */
class StagingReentrancySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  Seq("rel_csv_roundtrip", "rel_csv_gzip_roundtrip", "rel_json_roundtrip",
      "rel_orc_roundtrip", "rel_partitioned_roundtrip").foreach { name =>
    test(s"$name: the first build still executes after a second build") {
      val query = SparkEntry.queries(name)
      val first = query(spark, TestSpark.Sf0001)
      val second = query(spark, TestSpark.Sf0001)
      val rows = first.collect().toSeq
      assert(rows.nonEmpty)
      assert(rows == second.collect().toSeq)
    }
  }
}
