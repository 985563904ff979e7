package graft.operators

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's medallion pipeline (bronze → silver → gold → sample
  * analytics), re-expressed Spark-first over the driver's TPC-H-ish star
  * schema (role mapping FIXTURES.md §C: sales→lineitem, products→part,
  * employees→supplier, department→nation.n_name).
  *
  * Semantics rebuilt from reference `etl_medallion.py`:
  *   - silver cleaning selects/filters (`etl_medallion.py:116-149`)
  *   - gold denormalized join (`etl_medallion.py:161-179`)
  *   - gold per-product metrics with LEFT JOIN + COUNT(col) zero-sale
  *     semantics (`etl_medallion.py:181-195`)
  *   - gold monthly rollup on EXTRACT(YEAR/MONTH) (`etl_medallion.py:197-210`)
  *   - sample analytics (`etl_medallion.py:346-396`)
  *
  * Scale posture: dimension sides (part, supplier, nation) are broadcast so
  * the fact scan never shuffles for the denormalization; aggregates rely on
  * Catalyst's partial (map-side) HashAggregate; every money aggregate runs in
  * DECIMAL(18,2) so results are shuffle-order-independent.
  */
object Medallion {

  /** Silver employees analog (reference `etl_medallion.py:116-126`):
    * TRIM/LOWER cleanup + not-null + positive-measure filter (P1,F1,C1,C2).
    */
  def silverSuppliers(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir)
      .select(
        col("s_suppkey"),
        trim(col("s_name")).as("s_name"),
        lower(trim(col("s_name"))).as("s_contact"),
        col("s_nationkey"),
        col("s_acctbal"))
      .filter(col("s_contact").isNotNull && col("s_acctbal") > 0)

  val silverSuppliersSql: String =
    """SELECT s_suppkey, TRIM(s_name) AS s_name, LOWER(TRIM(s_name)) AS s_contact,
      |       s_nationkey, s_acctbal
      |FROM supplier
      |WHERE LOWER(TRIM(s_name)) IS NOT NULL AND s_acctbal > 0
      |ORDER BY s_suppkey""".stripMargin

  /** Silver products analog (reference `etl_medallion.py:128-134`):
    * SELECT * passthrough + range/boolean-ish predicate (P2,F2). */
  def silverProducts(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .filter(col("p_retailprice") > 0 && col("p_size") > 0)

  val silverProductsSql: String =
    """SELECT * FROM part
      |WHERE p_retailprice > 0 AND p_size > 0
      |ORDER BY p_partkey""".stripMargin

  /** Silver sales analog (reference `etl_medallion.py:136-141`):
    * double range predicate on the fact table (F3). */
  def silverSales(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)

  val silverSalesSql: String =
    """SELECT * FROM lineitem
      |WHERE l_quantity > 0 AND l_extendedprice > 0
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  /** Gold `sales_analytics` analog (reference `etl_medallion.py:161-179`):
    * fact LEFT JOIN two dims, 12-col projection with rename, computed
    * rep-name concat (J1,P3,C3). Dims are broadcast: at 100 TB the fact side
    * streams map-side with zero shuffle.
    */
  def goldSalesAnalytics(spark: SparkSession, dir: String): DataFrame = {
    val sales = silverSales(spark, dir)
    // gold joins SILVER dims, like the reference (`etl_medallion.py:177-178`
    // joins silver.products / silver.employees): rows whose dim was cleaned
    // away surface with NULL dim attributes.
    val products = silverProducts(spark, dir)
    val reps = silverSuppliers(spark, dir)
    sales
      .join(broadcast(products), sales("l_partkey") === products("p_partkey"), "left")
      .join(broadcast(reps), sales("l_suppkey") === reps("s_suppkey"), "left")
      .select(
        sales("l_orderkey"),
        sales("l_linenumber"),
        sales("l_partkey").as("product_key"),
        sales("l_suppkey").as("rep_key"),
        sales("l_shipdate").as("sale_date"),
        sales("l_quantity").as("quantity"),
        sales("l_extendedprice").as("total_amount"),
        products("p_name").as("product_name"),
        products("p_type").as("category"),
        products("p_retailprice").as("unit_price"),
        // reference `etl_medallion.py:171`: first_name || ' ' || last_name —
        // concat (NULL-propagating, like BigQuery ||), NOT concat_ws.
        concat(reps("s_name"), lit(" "), reps("s_nationkey").cast("string"))
          .as("sales_rep"),
        reps("s_acctbal").as("rep_acctbal"),
        sales("l_returnflag").as("channel"),
        sales("l_linestatus").as("region"))
  }

  val goldSalesAnalyticsSql: String =
    """SELECT l.l_orderkey, l.l_linenumber,
      |       l.l_partkey AS product_key, l.l_suppkey AS rep_key,
      |       l.l_shipdate AS sale_date,
      |       l.l_quantity AS quantity,
      |       l.l_extendedprice AS total_amount,
      |       p.p_name AS product_name, p.p_type AS category,
      |       p.p_retailprice AS unit_price,
      |       s.s_name || ' ' || CAST(s.s_nationkey AS VARCHAR) AS sales_rep,
      |       s.s_acctbal AS rep_acctbal,
      |       l.l_returnflag AS channel, l.l_linestatus AS region
      |FROM lineitem l
      |LEFT JOIN (SELECT * FROM part WHERE p_retailprice > 0 AND p_size > 0) p
      |  ON l.l_partkey = p.p_partkey
      |LEFT JOIN (SELECT s_suppkey, TRIM(s_name) AS s_name, s_nationkey, s_acctbal
      |           FROM supplier
      |           WHERE LOWER(TRIM(s_name)) IS NOT NULL AND s_acctbal > 0) s
      |  ON l.l_suppkey = s.s_suppkey
      |WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
      |ORDER BY l.l_orderkey, l.l_linenumber, product_key, rep_key""".stripMargin

  /** Gold `product_metrics` analog (reference `etl_medallion.py:181-195`):
    * dim LEFT JOIN fact then GROUP BY — COUNT(fact col) yields 0 (not 1) for
    * zero-sale products (A1,A5,J2,C4; the load-bearing semantics of SURVEY
    * §7.6(2)). avg is derived as exact-decimal-sum / count so both engines
    * divide the same exact numerator.
    */
  def goldProductMetrics(spark: SparkSession, dir: String): DataFrame = {
    val products = silverProducts(spark, dir)
    val sales = silverSales(spark, dir)
    products
      .join(sales, products("p_partkey") === sales("l_partkey"), "left")
      .groupBy(products("p_partkey"), products("p_name"), products("p_type").as("category"))
      .agg(
        count(sales("l_orderkey")).as("total_sales"),
        dec2(sum(dec(sales("l_quantity")))).as("total_quantity_sold"),
        dec2(sum(dec(sales("l_extendedprice")))).as("total_revenue"),
        (sum(dec(sales("l_extendedprice"))) * 100).cast("long").as("_sum_cents"))
      .withColumn("avg_sale_amount", avgCents2("_sum_cents", "total_sales"))
      .drop("_sum_cents")
  }

  val goldProductMetricsSql: String = {
    val avg = avgCents2Sql(
      "SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))", "COUNT(l.l_orderkey)")
    s"""SELECT p.p_partkey, p.p_name, p.p_type AS category,
       |       COUNT(l.l_orderkey) AS total_sales,
       |       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_quantity_sold,
       |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
       |       $avg AS avg_sale_amount
       |FROM (SELECT * FROM part WHERE p_retailprice > 0 AND p_size > 0) p
       |LEFT JOIN (SELECT * FROM lineitem
       |           WHERE l_quantity > 0 AND l_extendedprice > 0) l
       |  ON p.p_partkey = l.l_partkey
       |GROUP BY p.p_partkey, p.p_name, p.p_type
       |ORDER BY p.p_partkey""".stripMargin
  }

  /** Gold `sales_summary` analog (reference `etl_medallion.py:197-210`):
    * GROUP BY computed year/month keys + categorical keys (A2,C5,O2). */
  def goldSalesSummary(spark: SparkSession, dir: String): DataFrame =
    silverSales(spark, dir)
      .groupBy(
        year(col("l_shipdate")).as("year"),
        month(col("l_shipdate")).as("month"),
        col("l_returnflag").as("channel"),
        col("l_linestatus").as("region"))
      .agg(
        count(lit(1)).as("total_transactions"),
        dec2(sum(dec(col("l_extendedprice")))).as("total_revenue"),
        (sum(dec(col("l_extendedprice"))) * 100).cast("long").as("_sum_cents"))
      .withColumn("avg_transaction_value", avgCents2("_sum_cents", "total_transactions"))
      .drop("_sum_cents")

  val goldSalesSummarySql: String = {
    val avg = avgCents2Sql("SUM(CAST(l_extendedprice AS DECIMAL(18,2)))", "COUNT(*)")
    s"""SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS year,
       |       CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER) AS month,
       |       l_returnflag AS channel, l_linestatus AS region,
       |       COUNT(*) AS total_transactions,
       |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
       |       $avg AS avg_transaction_value
       |FROM lineitem
       |WHERE l_quantity > 0 AND l_extendedprice > 0
       |GROUP BY 1, 2, 3, 4
       |ORDER BY year DESC, month DESC, channel, region""".stripMargin
  }

  /** Sample analytics 1 (reference `etl_medallion.py:351-356`): top-5
    * products by revenue = ORDER BY … LIMIT (O1,O4). Catalyst compiles this
    * to TakeOrderedAndProject — a true distributed top-k, no global sort.
    */
  def topProducts(spark: SparkSession, dir: String): DataFrame =
    goldProductMetrics(spark, dir)
      .orderBy(col("total_revenue").desc, col("p_partkey"))
      .limit(5)

  val topProductsSql: String =
    s"""SELECT * FROM (${subquery(goldProductMetricsSqlNoOrder)})
       |ORDER BY total_revenue DESC, p_partkey
       |LIMIT 5""".stripMargin

  /** Sample analytics 2 (reference `etl_medallion.py:358-366`):
    * re-aggregation of the stored aggregate (A3). avg-of-avgs runs over the
    * already-rounded 2-dec values, summed exactly in decimal.
    */
  def salesByChannel(spark: SparkSession, dir: String): DataFrame =
    goldSalesSummary(spark, dir)
      .groupBy(col("channel"))
      .agg(
        // total_revenue arrives as DOUBLE (exact cents); re-narrow to decimal
        // before summing so the re-aggregation stays order-independent.
        dec2(sum(dec(col("total_revenue")))).as("total_revenue"),
        sum(col("total_transactions")).as("total_transactions"),
        (sum(dec(col("avg_transaction_value"))) * 100).cast("long").as("_sum_cents"),
        count(col("avg_transaction_value")).as("_n"))
      .withColumn("avg_transaction_value", avgCents2("_sum_cents", "_n"))
      .drop("_sum_cents", "_n")
      .orderBy(col("total_revenue").desc, col("channel"))

  val salesByChannelSql: String = {
    val avg = avgCents2Sql(
      "SUM(CAST(avg_transaction_value AS DECIMAL(18,2)))",
      "COUNT(avg_transaction_value)")
    s"""SELECT channel,
       |       CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
       |       CAST(SUM(total_transactions) AS BIGINT) AS total_transactions,
       |       $avg AS avg_transaction_value
       |FROM (${subquery(goldSalesSummarySqlNoOrder)})
       |GROUP BY channel
       |ORDER BY total_revenue DESC, channel""".stripMargin
  }

  /** Sample analytics 3 (reference `etl_medallion.py:368-377`): per-department
    * rollup with post-aggregation not-null filter + LIMIT (A4,F6,O4).
    * department analog = nation name of the supplier (FIXTURES §C).
    */
  def salesByDepartment(spark: SparkSession, dir: String): DataFrame = {
    val sales = silverSales(spark, dir)
    val reps = silverSuppliers(spark, dir)
    val depts = Tables.nation(spark, dir)
    sales
      .join(broadcast(reps), sales("l_suppkey") === reps("s_suppkey"), "left")
      .join(broadcast(depts), reps("s_nationkey") === depts("n_nationkey"), "left")
      .groupBy(depts("n_name").as("department"))
      .agg(
        count(lit(1)).as("sales_count"),
        dec2(sum(dec(sales("l_extendedprice")))).as("total_sales"))
      .filter(col("department").isNotNull)
      .orderBy(col("total_sales").desc, col("department"))
      .limit(5)
  }

  val salesByDepartmentSql: String =
    """SELECT n.n_name AS department, COUNT(*) AS sales_count,
      |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
      |FROM lineitem l
      |LEFT JOIN (SELECT s_suppkey, s_nationkey FROM supplier
      |           WHERE LOWER(TRIM(s_name)) IS NOT NULL AND s_acctbal > 0) s
      |  ON l.l_suppkey = s.s_suppkey
      |LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
      |GROUP BY n.n_name
      |HAVING n.n_name IS NOT NULL
      |ORDER BY total_sales DESC, department
      |LIMIT 5""".stripMargin

  /** Verification analog (reference `etl_medallion.py:220-296`, M4/A6):
    * row count per expected table, as one relation (uses UNION ALL). */
  def rowCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.names
      .map { t =>
        Tables.read(spark, dir, t)
          .agg(count(lit(1)).as("n_rows"))
          .select(lit(t).as("tbl"), col("n_rows"))
      }
      .reduce(_ union _)
      .orderBy("tbl")

  val rowCountsSql: String =
    Tables.names
      .map(t => s"SELECT '$t' AS tbl, COUNT(*) AS n_rows FROM $t")
      .mkString("", "\nUNION ALL\n", "\nORDER BY tbl")

  /** Data-quality expectation suite (the dbt-test / Great-Expectations
    * operator): named invariants over the bronze tables — key uniqueness,
    * not-null, and domain-range checks — each computed as a violation
    * count + pass flag, all reported in ONE relation. The contract a
    * warehouse runs after every load, next to [[rowCounts]]'s volume
    * check; a failed expectation gates promotion to silver. Every check is
    * a one-row aggregate over its own scan (map-side partials, a few longs
    * cross the shuffle); uniqueness is COUNT − COUNT(DISTINCT). */
  def qualityChecks(spark: SparkSession, dir: String): DataFrame = {
    def chk(tbl: String, name: String, violations: DataFrame): DataFrame =
      violations.select(lit(tbl).as("tbl"), lit(name).as("chk"),
        col("n_violations"), (col("n_violations") === 0L).as("pass"))
    Seq(
      chk("orders", "unique_o_orderkey",
        Tables.orders(spark, dir).agg(
          (count(lit(1)) - count_distinct(col("o_orderkey"))).as("n_violations"))),
      chk("orders", "not_null_o_custkey",
        Tables.orders(spark, dir).agg(
          count(when(col("o_custkey").isNull, 1)).as("n_violations"))),
      chk("lineitem", "positive_l_quantity",
        Tables.lineitem(spark, dir).agg(
          count(when(col("l_quantity") <= 0, 1)).as("n_violations"))),
      chk("customer", "not_null_c_acctbal",
        Tables.customer(spark, dir).agg(
          count(when(col("c_acctbal").isNull, 1)).as("n_violations"))),
      chk("part", "positive_p_retailprice",
        Tables.part(spark, dir).agg(
          count(when(col("p_retailprice") <= 0, 1)).as("n_violations"))),
      chk("events", "non_negative_value",
        Tables.events(spark, dir).agg(
          count(when(col("value") < 0, 1)).as("n_violations"))))
      .reduce(_ union _)
  }

  val qualityChecksSql: String =
    """SELECT 'orders' AS tbl, 'unique_o_orderkey' AS chk,
      |       COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_violations,
      |       COUNT(*) - COUNT(DISTINCT o_orderkey) = 0 AS pass FROM orders
      |UNION ALL
      |SELECT 'orders', 'not_null_o_custkey',
      |       COUNT(CASE WHEN o_custkey IS NULL THEN 1 END),
      |       COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) = 0 FROM orders
      |UNION ALL
      |SELECT 'lineitem', 'positive_l_quantity',
      |       COUNT(CASE WHEN l_quantity <= 0 THEN 1 END),
      |       COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) = 0 FROM lineitem
      |UNION ALL
      |SELECT 'customer', 'not_null_c_acctbal',
      |       COUNT(CASE WHEN c_acctbal IS NULL THEN 1 END),
      |       COUNT(CASE WHEN c_acctbal IS NULL THEN 1 END) = 0 FROM customer
      |UNION ALL
      |SELECT 'part', 'positive_p_retailprice',
      |       COUNT(CASE WHEN p_retailprice <= 0 THEN 1 END),
      |       COUNT(CASE WHEN p_retailprice <= 0 THEN 1 END) = 0 FROM part
      |UNION ALL
      |SELECT 'events', 'non_negative_value',
      |       COUNT(CASE WHEN value < 0 THEN 1 END),
      |       COUNT(CASE WHEN value < 0 THEN 1 END) = 0 FROM events
      |ORDER BY tbl, chk""".stripMargin

  // ---- helpers -------------------------------------------------------------

  private def goldProductMetricsSqlNoOrder: String = stripOrderBy(goldProductMetricsSql)
  private def goldSalesSummarySqlNoOrder: String = stripOrderBy(goldSalesSummarySql)

  private def stripOrderBy(sql: String): String = {
    val i = sql.lastIndexOf("ORDER BY")
    if (i < 0) sql else sql.substring(0, i).trim
  }

  private def subquery(sql: String): String = "\n" + sql + "\n"

  /** Declared queries with deterministic total orders (SURVEY §7.3(a)). */
  val all: Seq[Q] = Seq(
    Q("silver_suppliers",
      (s, d) => silverSuppliers(s, d).orderBy("s_suppkey"),
      Some(silverSuppliersSql)),
    Q("silver_products",
      (s, d) => silverProducts(s, d).orderBy("p_partkey"),
      Some(silverProductsSql)),
    Q("silver_sales",
      (s, d) => silverSales(s, d)
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      Some(silverSalesSql)),
    Q("gold_sales_analytics",
      (s, d) => goldSalesAnalytics(s, d)
        .orderBy("l_orderkey", "l_linenumber", "product_key", "rep_key"),
      Some(goldSalesAnalyticsSql)),
    Q("gold_product_metrics",
      (s, d) => goldProductMetrics(s, d).orderBy("p_partkey"),
      Some(goldProductMetricsSql)),
    Q("gold_sales_summary",
      (s, d) => goldSalesSummary(s, d)
        .orderBy(col("year").desc, col("month").desc, col("channel"), col("region")),
      Some(goldSalesSummarySql)),
    Q("analytics_top_products", topProducts, Some(topProductsSql)),
    Q("analytics_by_channel", salesByChannel, Some(salesByChannelSql)),
    Q("analytics_by_department", salesByDepartment, Some(salesByDepartmentSql)),
    Q("meta_row_counts", rowCounts, Some(rowCountsSql)),
    Q("meta_quality_checks", qualityChecks(_, _).orderBy("tbl", "chk"),
      Some(qualityChecksSql)))
}
