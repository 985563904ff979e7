package graft.operators

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-way analytical joins over the full star schema — the join-tree
  * shapes (fact ⋈ fact ⋈ dims chain, semi, anti) a warehouse engine must
  * plan well. Catalyst reorders the dim chain and broadcasts every small
  * side; the two fact tables (lineitem ⋈ orders) meet in the only real
  * shuffle. AQE handles runtime skew.
  */
object Analytics {

  /** Revenue by region/nation/year across 6 tables (TPC-H Q5 shape):
    * lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region; the planner picks
    * each dim join by size. */
  def regionalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Medallion.silverSales(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(r("r_name").as("region"), n("n_name").as("nation"),
        year(o("o_orderdate")).as("year"))
      .agg(
        count(lit(1)).as("n_lineitems"),
        dec2(sum(dec(li("l_extendedprice")))).as("revenue"))
  }

  val regionalRevenueSql: String =
    """SELECT r.r_name AS region, n.n_name AS nation,
      |       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS year,
      |       COUNT(*) AS n_lineitems,
      |       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
      |GROUP BY 1, 2, 3
      |ORDER BY region, nation, year""".stripMargin

  /** Semi-join driven by an aggregate predicate (TPC-H Q18 shape): orders
    * whose total quantity exceeds a threshold — HAVING output used purely
    * as a filter, so a LEFT SEMI join (no row multiplication, build side is
    * only the qualifying keys). */
  def bigOrders(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // round-18 (guide §1.2 step 2): the qty aggregate feeds ONLY the
    // HAVING comparison — never the output — so it sums exact integer
    // cents (BIGINT, primitive codegen) instead of DECIMAL(18,2).
    // Σ dec(q) > 90 ⇔ Σ cents(q) > 9000 exactly: DoubleCents is
    // spec-pinned bit-identical to (dec(q)·100)::BIGINT including
    // NULL-on-overflow, and per-order cent sums sit far below 2⁶³.
    val big = li.groupBy(col("l_orderkey"))
      .agg(sum(graft.Q.cents(col("l_quantity"))).as("qty_cents"))
      .filter(col("qty_cents") > 9000)
      .select(col("l_orderkey").as("big_key"))
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("big_key"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
  }

  val bigOrdersSql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM orders
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 90)
      |ORDER BY o_orderkey""".stripMargin

  /** Anti-join: customers with no completed ('F') orders — NOT EXISTS as a
    * LEFT ANTI join (streams the probe side; never materializes a NOT-IN
    * list on the driver). */
  def customersWithoutF(spark: SparkSession, dir: String): DataFrame = {
    val fOrders = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .join(fOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  val customersWithoutFSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** Month-over-month revenue growth: monthly order totals (exact decimal,
    * emitted as cents for the delta arithmetic) with the previous month's
    * revenue and the MoM delta in basis points — computed as INTEGER
    * arithmetic over exact cents ((cur−prev)·10⁴ div prev), because a
    * float percentage of two large sums can differ in the last ulp across
    * engines. The monthly relation is month-cardinality-sized, so the lag
    * window is trivial after one map-side-combinable aggregate over the
    * fact table. */
  def momGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = to_date(col("o_orderdate"))
    val monthly = Tables.orders(spark, dir)
      .groupBy((year(d) * 100 + month(d)).as("ym"))
      .agg((sum(graft.Q.dec(col("o_totalprice"))) * 100).cast("long").as("rev_cents"))
    val w = Window.orderBy(col("ym"))
    monthly
      .withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
      .select(col("ym"), graft.Q.dbl(col("rev_cents")) / 100 as "revenue",
        graft.Q.dbl(col("prev_cents")) / 100 as "prev_revenue",
        when(col("prev_cents").isNotNull,
          expr("CAST(sign(rev_cents - prev_cents) * " +
            "((abs(rev_cents - prev_cents) * 10000) div prev_cents) AS BIGINT)"))
          .as("mom_bps"))
  }

  val momGrowthSql: String =
    """WITH m AS (
      |  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS ym,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |           AS rev_cents
      |  FROM orders GROUP BY 1),
      |l AS (SELECT ym, rev_cents,
      |             LAG(rev_cents, 1) OVER (ORDER BY ym) AS prev_cents
      |      FROM m)
      |SELECT ym, CAST(rev_cents AS DOUBLE) / 100 AS revenue,
      |       CAST(prev_cents AS DOUBLE) / 100 AS prev_revenue,
      |       CASE WHEN prev_cents IS NOT NULL THEN
      |         CAST(SIGN(rev_cents - prev_cents)
      |           * ((ABS(rev_cents - prev_cents) * 10000) // prev_cents) AS BIGINT)
      |       END AS mom_bps
      |FROM l
      |ORDER BY ym""".stripMargin

  val all: Seq[Q] = Seq(
    Q("analytics_regional_revenue",
      regionalRevenue(_, _).orderBy("region", "nation", "year"),
      Some(regionalRevenueSql)),
    Q("analytics_big_orders", bigOrders(_, _).orderBy("o_orderkey"), Some(bigOrdersSql)),
    Q("analytics_mom_growth", momGrowth(_, _).orderBy("ym"), Some(momGrowthSql)),
    Q("analytics_inactive_customers", customersWithoutF(_, _).orderBy("c_custkey"),
      Some(customersWithoutFSql)))
}
