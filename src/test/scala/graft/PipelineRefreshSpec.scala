package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, StandardCopyOption}

/** A second pipeline run, or a rebuilt declared query, over changed input
  * serves the new data: no result may come from a cache filled by an
  * earlier run over the same path. */
class PipelineRefreshSpec extends AnyFunSuite {

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).toArray(n => new Array[Path](n)).foreach(deleteTree)
    Files.deleteIfExists(p)
  }

  /** A temp copy of sf0.001 for `body`, removed afterwards. */
  private def withCopy(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-refresh")
    try {
      Files.list(java.nio.file.Paths.get(TestSpark.Sf0001)).forEach { f =>
        Files.copy(f, dir.resolve(f.getFileName))
      }
      body(dir)
    } finally deleteTree(dir)
  }

  /** Replaces `<table>.parquet` in `dir` with `df`'s rows. The new file is
    * moved into place, as an outside writer would do: a Spark write to the
    * path itself would refresh the caches over it. */
  private def replaceTable(dir: Path, table: String, df: DataFrame): Unit = {
    val staging = dir.resolve(s"staging_$table")
    df.coalesce(1).write.parquet(staging.toString)
    val part = Files.list(staging).toArray(n => new Array[Path](n))
      .filter(_.getFileName.toString.endsWith(".parquet")).head
    Files.move(part, dir.resolve(s"$table.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("re-running the pipeline after the input changes refreshes every gold table") {
    // own session: its temp views never shadow the shared session's
    val spark = TestSpark.spark.newSession()
    withCopy { dir =>
      def goldSums(): (Long, Long) = (
        spark.table("gold_sales_summary").agg(sum(col("total_transactions"))).head().getLong(0),
        spark.table("gold_product_metrics").agg(sum(col("total_sales"))).head().getLong(0))

      assert(Pipeline.run(spark, dir.toString).status == "success")
      val salesBefore = spark.table("silver_sales").count()
      val (summaryBefore, productBefore) = goldSums()
      assert(summaryBefore == salesBefore)

      // replace the copy's lineitem with every other order of the original
      replaceTable(dir, "lineitem",
        Tables.lineitem(spark, TestSpark.Sf0001).filter(col("l_orderkey") % 2 === 0))

      val second = Pipeline.run(spark, dir.toString)
      assert(second.status == "success")
      val salesAfter = spark.table("silver_sales").count()
      assert(salesAfter > 0 && salesAfter < salesBefore)
      assert(second.inventory.find(_.name == "silver_sales").map(_.rows).contains(salesAfter))
      val (summaryAfter, productAfter) = goldSums()
      assert(summaryAfter == salesAfter, "gold_sales_summary serves the previous run")
      assert(productAfter < productBefore, "gold_product_metrics serves the previous run")
    }
  }

  test("the served tables are what the last run stored, until the next trigger") {
    import ServeCalls._
    val spark = TestSpark.spark.newSession()
    withCopy { dir =>
      val server = Serve.start(spark, dir.toString, 0)
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      def served(): Map[String, Long] = servedCounts(get(base, "/verify-results").body())
      try {
        assert(post(base, "/trigger-etl").statusCode() == 200)
        val first = served()
        assert(first.size == 9)
        assert(spark.table("silver_sales").count() == first("silver_sales"))

        // replace the copy's lineitem with every other order of the original
        replaceTable(dir, "lineitem",
          Tables.lineitem(spark, TestSpark.Sf0001).filter(col("l_orderkey") % 2 === 0))
        assert(served() == first, "/verify-results recounts the new input")
        assert(spark.table("silver_sales").count() == first("silver_sales"))

        assert(post(base, "/trigger-etl").statusCode() == 200)
        val second = served()
        val fresh = Tables.lineitem(spark, dir.toString).count()
        assert(second("bronze_lineitem") == fresh && fresh < first("bronze_lineitem"))
        assert(second("silver_sales") < first("silver_sales"))
        assert(second("bronze_part") == first("bronze_part"))
        assert(spark.table("silver_sales").count() == second("silver_sales"))
      } finally server.stop(0)
    }
  }

  test("declared queries rebuilt after the input changes read the new input") {
    val spark = TestSpark.spark.newSession()
    val names = Seq("sample_token_budget", "text_dup_spans", "text_oov_rate", "events_drift")
    withCopy { dir =>
      def results(): Map[String, Seq[Row]] =
        names.map(n => n -> SparkEntry.queries(n)(spark, dir.toString).collect().toSeq).toMap
      val before = results()

      // every other document and every other event of the original; events
      // keep the physical `ts` encoding the copy's first read probed
      val eventsPath = s"${TestSpark.Sf0001}/events.parquet"
      replaceTable(dir, "documents",
        Tables.documents(spark, TestSpark.Sf0001).filter(col("doc_id") % 2 === 0))
      replaceTable(dir, "events",
        spark.read.schema(Tables.eventsReadSchema(spark, eventsPath)).parquet(eventsPath)
          .filter(col("event_id") % 2 === 0))

      val rebuilt = results()
      spark.catalog.clearCache()
      val fresh = results()
      names.foreach { n =>
        withClue(n) {
          assert(fresh(n) != before(n), "the halved input must change the result")
          assert(rebuilt(n) == fresh(n), "the rebuilt query serves the previous input")
        }
      }
    }
  }
}
