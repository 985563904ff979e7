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
    // Spark's default: no declared query caches a relation
    assert(conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "false")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("the factory installs GraftExtensions: hash60 is a registered function") {
    assert(spark.catalog.functionExists("hash60"))
    assert(spark.sql("SELECT hash60('a') >= 0").head().getBoolean(0))
  }

  test("Cpus.effective honors SPARK_GRAFT_CPUS up to the budget") {
    val eff = Cpus.effective()
    val avail = Runtime.getRuntime.availableProcessors()
    assert(eff >= 1 && eff <= avail)
    // quota parsing: this sandbox has no quota (v1 cfs_quota -1) or a
    // readable one; either way the call must not throw and must be >= 1
    Cpus.cgroupQuotaCores().foreach(q => assert(q >= 1))
  }
}
