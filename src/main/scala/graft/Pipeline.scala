package graft

import graft.operators.Medallion
import org.apache.spark.GraftSpark
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import java.util.concurrent.{Callable, ConcurrentHashMap, ExecutionException, Executors}
import java.util.concurrent.locks.ReentrantReadWriteLock
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
  * Each "statement" stores its table, like the reference's
  * `CREATE OR REPLACE TABLE … AS SELECT` into BigQuery datasets: the plan is
  * `localCheckpoint`ed and one count of the stored RDD both forces and
  * stores it. That count is the statement's `rows` and the run's inventory
  * row count: no table is counted twice. A local checkpoint is not matched
  * by the CacheManager, so a later plan over the same input never reads it.
  *
  * When the run ends, its successful tables are published together as the
  * session's temp views and in [[reading]]; each replaces the table of the
  * same name from an earlier run, which is released once no read in
  * [[reading]] still holds it. A failed statement leaves the earlier table
  * in place, as a failed CTAS does.
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

  /** A table a statement stored: `df` reads the locally checkpointed RDD,
    * and `rows` is the count that forced it. */
  final class Stored private[Pipeline] (val df: DataFrame, rdd: RDD[_], val rows: Long) {
    private[Pipeline] def release(): Unit = GraftSpark.release(rdd)
  }

  /** The tables published in one session, and the lock that keeps a publish
    * from releasing a table while a read still uses it. */
  private final class Published {
    private val lock = new ReentrantReadWriteLock()
    private var tables = Map.empty[String, Stored]

    def read[A](f: Map[String, Stored] => A): A = {
      lock.readLock.lock()
      try f(tables) finally lock.readLock.unlock()
    }

    def publish(fresh: Seq[(String, Stored)]): Unit = {
      lock.writeLock.lock()
      try {
        fresh.foreach { case (n, t) => t.df.createOrReplaceTempView(n) }
        val replaced = fresh.flatMap { case (n, _) => tables.get(n) }
        tables ++= fresh
        replaced.foreach(_.release())
      } finally lock.writeLock.unlock()
    }
  }

  // never emptied: a session has no end hook, and stopping the SparkContext
  // drops the stored blocks
  private val published = new ConcurrentHashMap[SparkSession, Published]()

  private def publishedIn(spark: SparkSession): Published =
    published.computeIfAbsent(spark, _ => new Published)

  /** `f` over the tables the runs in `spark` have published, by name. No
    * publish releases them until `f` returns; a running [[run]] does not
    * block `f` before its own publish. */
  def reading[A](spark: SparkSession)(f: Map[String, Stored] => A): A =
    publishedIn(spark).read(f)

  /** Run one statement: build the plan and store its table (the CTAS analog;
    * a lazy view would defer failures). */
  private def runStatement(
      spark: SparkSession, dir: String, st: Statement): (StatementResult, Option[Stored]) = {
    val (name, fn) = st
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, dir).localCheckpoint(eager = false)
      val rdd = df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get
      // one job computes, stores and counts the table, like job.result() at
      // etl_medallion.py:67
      val rows = try rdd.count() catch { case NonFatal(e) => GraftSpark.release(rdd); throw e }
      (StatementResult(name, ok = true, None, rows, msSince(t0)), Some(new Stored(df, rdd, rows)))
    } catch {
      case NonFatal(e) =>
        (StatementResult(name, ok = false, Some(truncate(e.getMessage)), -1L, msSince(t0)), None)
    }
  }

  def run(spark: SparkSession, dir: String,
      layers: Seq[(String, Seq[Statement])] = defaultLayers()): RunReport = {
    val t0 = System.nanoTime()
    val results = scala.collection.mutable.ArrayBuffer.empty[LayerResult]
    val processed = scala.collection.mutable.ArrayBuffer.empty[String]
    val stored = scala.collection.mutable.ArrayBuffer.empty[(String, Stored)]
    var halted = false
    layers.foreach { case (layer, statements) =>
      if (!halted) {
        val l0 = System.nanoTime()
        // intra-layer: independent statements, all attempted, concurrently
        val ran = inParallel(statements)(runStatement(spark, dir, _))
        val sts = ran.map(_._1)
        stored ++= ran.flatMap { case (r, t) => t.map(r.name -> _) }
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
    publishedIn(spark).publish(stored.toSeq)
    RunReport(
      status = if (halted) "error" else "success",
      layersProcessed = processed.toSeq,
      layers = results.toSeq,
      durationSec = (System.nanoTime() - t0) / 1e9,
      inventory = inventory)
  }
}
