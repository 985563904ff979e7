package graft

import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, StandardCopyOption}

/** A second pipeline run over changed input serves the new data: no gold
  * table may come from a cache filled by an earlier run over the same path. */
class PipelineRefreshSpec extends AnyFunSuite {

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).toArray(n => new Array[Path](n)).foreach(deleteTree)
    Files.deleteIfExists(p)
  }

  test("re-running the pipeline after the input changes refreshes every gold table") {
    // own session: its temp views never shadow the shared session's
    val spark = TestSpark.spark.newSession()
    val dir = Files.createTempDirectory("graft-refresh")
    try {
      Files.list(java.nio.file.Paths.get(TestSpark.Sf0001)).forEach { f =>
        Files.copy(f, dir.resolve(f.getFileName))
      }
      def goldSums(): (Long, Long) = (
        spark.table("gold_sales_summary").agg(sum(col("total_transactions"))).head().getLong(0),
        spark.table("gold_product_metrics").agg(sum(col("total_sales"))).head().getLong(0))

      assert(Pipeline.run(spark, dir.toString).status == "success")
      val salesBefore = spark.table("silver_sales").count()
      val (summaryBefore, productBefore) = goldSums()
      assert(summaryBefore == salesBefore)

      // replace the copy's lineitem with every other order of the original.
      // The new file is moved into place, as an outside writer would do: a
      // Spark write to the path itself would refresh the caches over it
      val staging = dir.resolve("staging")
      Tables.lineitem(spark, TestSpark.Sf0001).filter(col("l_orderkey") % 2 === 0)
        .coalesce(1).write.parquet(staging.toString)
      val part = Files.list(staging).toArray(n => new Array[Path](n))
        .filter(_.getFileName.toString.endsWith(".parquet")).head
      Files.move(part, dir.resolve("lineitem.parquet"), StandardCopyOption.REPLACE_EXISTING)

      val second = Pipeline.run(spark, dir.toString)
      assert(second.status == "success")
      val salesAfter = spark.table("silver_sales").count()
      assert(salesAfter > 0 && salesAfter < salesBefore)
      assert(second.inventory.find(_.name == "silver_sales").map(_.rows).contains(salesAfter))
      val (summaryAfter, productAfter) = goldSums()
      assert(summaryAfter == salesAfter, "gold_sales_summary serves the previous run")
      assert(productAfter < productBefore, "gold_product_metrics serves the previous run")
    } finally deleteTree(dir)
  }
}
