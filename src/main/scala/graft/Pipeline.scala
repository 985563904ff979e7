package graft

import graft.operators.Medallion
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.util.control.NonFatal

/** Orchestration analog of the reference's HTTP surface + `run_etl()`
  * (reference `main.py:35-74`, `etl_medallion.py:302-344`):
  *
  *   - layers run in order; the pipeline STOPS at the first failed layer
  *     (`etl_medallion.py:316-321`);
  *   - statements *within* a layer are independent
  *     (`etl_medallion.py:144-148, 213-217`), so they run concurrently
  *     ([[inParallel]]): a failure marks the layer failed but its siblings
  *     still run, and the report keeps the declared statement order;
  *   - error messages are truncated to 100 chars (`etl_medallion.py:70`);
  *   - the run report carries per-layer and per-statement status, timing and
  *     row counts, like `POST /trigger-etl`'s JSON and
  *     `CloudRunETL.run_etl_pipeline()`'s duration (`etl_pipeline.py:10-13`).
  *
  * Each "statement" materializes one relation as a temp view (the session-
  * catalog analog of the reference's CTAS into BigQuery datasets) and forces
  * it with one count. That count is the statement's `rows` and the run's
  * inventory row count: no table is counted twice.
  */
object Pipeline {

  final case class StatementResult(
      name: String, ok: Boolean, error: Option[String], rows: Long, ms: Double)
  final case class LayerResult(
      layer: String, ok: Boolean, statements: Seq[StatementResult], ms: Double)

  /** One expected-table inventory row (reference `etl_medallion.py:261-265`:
    * the post-run check that every expected table exists, with its count). */
  final case class InventoryCheck(name: String, present: Boolean, rows: Long)

  final case class RunReport(
      status: String,
      layersProcessed: Seq[String],
      layers: Seq[LayerResult],
      durationSec: Double,
      inventory: Seq[InventoryCheck]) {
    /** True iff every expected table materialized (reference's
      * `verification` gate). */
    def inventoryComplete: Boolean = inventory.forall(_.present)
  }

  type Statement = (String, (SparkSession, String) => DataFrame)

  /** The medallion layers, as ordered statement lists. */
  def defaultLayers(): Seq[(String, Seq[Statement])] = Seq(
    "bronze" -> Seq[Statement](
      "bronze_lineitem" -> ((s, d) => Tables.lineitem(s, d)),
      "bronze_part" -> ((s, d) => Tables.part(s, d)),
      "bronze_supplier" -> ((s, d) => Tables.supplier(s, d))),
    "silver" -> Seq[Statement](
      "silver_sales" -> Medallion.silverSales _,
      "silver_products" -> Medallion.silverProducts _,
      "silver_suppliers" -> Medallion.silverSuppliers _),
    "gold" -> Seq[Statement](
      "gold_sales_analytics" -> Medallion.goldSalesAnalytics _,
      "gold_product_metrics" -> Medallion.goldProductMetrics _,
      "gold_sales_summary" -> Medallion.goldSalesSummary _))

  /** `xs.map(f)` with every `f(x)` in flight at once, results in the order
    * of `xs`. The pool is created here, so its threads inherit the calling
    * thread's Spark local properties (job group, description, scheduler
    * pool). A failed call rethrows its own exception, fatal ones included. */
  def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(xs.size, { (r: Runnable) =>
        val t = new Thread(r, "graft-parallel")
        t.setDaemon(true)
        t
      })
      try {
        val pending = xs.map(x => pool.submit(new Callable[B] { def call(): B = f(x) }))
        pending.map { p =>
          try p.get() catch { case e: ExecutionException => throw e.getCause }
        }
      } finally pool.shutdown()
    }

  private def truncate(msg: String): String = {
    val m = Option(msg).getOrElse("")
    if (m.length <= 100) m else m.substring(0, 100)
  }

  private def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Run one statement: build the plan, materialize it as a temp view, and
    * force execution (the CTAS analog — a view alone would defer failures). */
  private def runStatement(spark: SparkSession, dir: String, st: Statement): StatementResult = {
    val (name, fn) = st
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, dir)
      df.createOrReplaceTempView(name)
      val rows = df.count() // force, like job.result() at etl_medallion.py:67
      StatementResult(name, ok = true, None, rows, msSince(t0))
    } catch {
      case NonFatal(e) =>
        StatementResult(name, ok = false, Some(truncate(e.getMessage)), -1L, msSince(t0))
    }
  }

  def run(spark: SparkSession, dir: String,
      layers: Seq[(String, Seq[Statement])] = defaultLayers()): RunReport = {
    val t0 = System.nanoTime()
    val results = scala.collection.mutable.ArrayBuffer.empty[LayerResult]
    val processed = scala.collection.mutable.ArrayBuffer.empty[String]
    var halted = false
    layers.foreach { case (layer, statements) =>
      if (!halted) {
        val l0 = System.nanoTime()
        // intra-layer: independent statements, all attempted, concurrently
        val sts = inParallel(statements)(runStatement(spark, dir, _))
        val ok = sts.forall(_.ok)
        results += LayerResult(layer, ok, sts, msSince(l0))
        if (ok) processed += layer
        else halted = true // inter-layer: dependent, stop at first failure
      }
    }
    // post-run expected-table inventory (reference `etl_medallion.py:261-265`):
    // every DECLARED statement is expected, including those of layers that
    // never ran — a halted pipeline reports them as absent. A present table's
    // rows are the count that forced it in this run.
    val forced = results.flatMap(_.statements).filter(_.ok).map(s => s.name -> s.rows).toMap
    val inventory = layers.flatMap(_._2.map(_._1)).map { name =>
      InventoryCheck(name, forced.contains(name), forced.getOrElse(name, -1L))
    }
    RunReport(
      status = if (halted) "error" else "success",
      layersProcessed = processed.toSeq,
      layers = results.toSeq,
      durationSec = (System.nanoTime() - t0) / 1e9,
      inventory = inventory)
  }
}
