package graft

import org.scalatest.funsuite.AnyFunSuite

/** The specs run the regime Bench and Verify run: [[TestSpark]] comes from
  * [[Session.local]], not from a builder of its own. */
class SessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the test session runs the factory's settings") {
    val conf = spark.conf
    val cpus = Cpus.effective()
    assert(spark.sparkContext.master == s"local[$cpus]")
    assert(conf.get("spark.sql.shuffle.partitions") == cpus.toString)
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    assert(conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("the factory installs GraftExtensions: hash60 is a registered function") {
    assert(spark.catalog.functionExists("hash60"))
    assert(spark.sql("SELECT hash60('a') >= 0").head().getBoolean(0))
  }
}
