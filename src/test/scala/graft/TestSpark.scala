package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, in the regime Bench and
  * Verify run ([[Session.local]]). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.local()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}
