package graft

import graft.streaming.FunnelStream
import graft.streaming.FunnelStream.{Ev, FunnelRow}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class FunnelStreamSpec extends AnyFunSuite {
  private implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark

  private val Min = 60L * 1000 * 1000 // µs
  private val Base = 10000L * Min
  private def t(us: Long): java.sql.Timestamp = new java.sql.Timestamp((Base + us) / 1000L)

  test("typed funnel fold equals the declared SQL-shaped funnel on real data") {
    import spark.implicits._
    val declared = graft.operators.EventTime.funnel(spark, TestSpark.Sf0001).collect()
      .map { r =>
        r.getLong(0) -> (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getInt(4))
      }.toMap
    val typed = FunnelStream.funnelBatch(
      Tables.events(spark, TestSpark.Sf0001)
        .select(col("user_id"), col("ts"), col("event_type")).as[Ev])
      .collect()
      .map(f => f.user_id -> (f.view_us, f.click_us, f.purchase_us, f.stage)).toMap
    assert(typed == declared)
  }

  test("streaming funnel buffers out-of-order events until the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = FunnelStream.funnel(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName("funnel_test")
      .start()
    try {
      // click arrives BEFORE its view in processing order; event-time order
      // is view(5m) < click(10m) < purchase(20m) — the buffer must fix it up
      input.addData(Ev(1L, t(10 * Min), "click"), Ev(1L, t(20 * Min), "purchase"))
      input.addData(Ev(1L, t(5 * Min), "view"))
      q.processAllAvailable()
      assert(spark.table("funnel_test").count() == 0, "funnel still buffering")
      // push the watermark far past user 1's quiet period via another user
      input.addData(Ev(2L, t(300 * Min), "view"))
      q.processAllAvailable()
      val rows = spark.table("funnel_test").as[FunnelRow].collect().toSeq
      assert(rows == Seq(FunnelRow(1L,
        Base + 5 * Min, Some(Base + 10 * Min), Some(Base + 20 * Min), 3)))
    } finally q.stop()
  }

  test("funnel gating: pre-view clicks never count") {
    val out = FunnelStream.computeFunnel(7L,
      Seq((100L, "click"), (200L, "view"), (150L, "purchase")))
    assert(out.contains(FunnelRow(7L, 200L, None, None, 1)),
      "click at 100 < view at 200 must not advance the funnel")
  }
}
