package graft.operators

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference notebook's transformation vocabulary (`etl_spark.ipynb`,
  * SURVEY §2 rows S2/S3/P4-P6/F4/F5/A7-A9/O3/M1-M3), re-expressed over the
  * driver testdata (cars.csv → part/events per FIXTURES §C).
  */
object Notebook {

  /** DISTINCT on a projection (A8, `etl_spark.ipynb:227 (cell 11)`).
    * distinct = group-by-all-keys hash aggregate; partial aggregation makes
    * this a single shuffle of the already-deduplicated map-side output.
    */
  def distinctProjection(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select("p_brand", "p_type", "p_size")
      .distinct()

  val distinctProjectionSql: String =
    """SELECT DISTINCT p_brand, p_type, p_size FROM part
      |ORDER BY p_brand, p_type, p_size""".stripMargin

  /** withColumn(lit) ×2 + drop (P5,P6,C6; `etl_spark.ipynb:286-287,383`). */
  def withLiteralsAndDrop(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("continent", lit("America"))
      .withColumn("currency", lit("Dolar"))
      .drop("props")

  val withLiteralsAndDropSql: String =
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value,
      |       'America' AS continent, 'Dolar' AS currency
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** Equality conjunction filter (F4, `etl_spark.ipynb:520 (cell 22)`). */
  def filterConjunction(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "click" && col("value") > 250)
      .select("event_id", "user_id", "event_type", "value")

  val filterConjunctionSql: String =
    """SELECT event_id, user_id, event_type, value
      |FROM events
      |WHERE event_type = 'click' AND value > 250
      |ORDER BY event_id""".stripMargin

  /** Null-scan filter (F5, `etl_spark.ipynb:525 (cell 22)`). The testdata has
    * no natively-null columns, so nulls are produced the way real pipelines
    * meet them: an outer join with a non-matching extra predicate.
    */
  def nullScan(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val bigParts = Tables.part(spark, dir).filter(col("p_size") > 25)
    li.join(bigParts, li("l_partkey") === bigParts("p_partkey"), "left")
      .filter(bigParts("p_name").isNull)
      .select(li("l_orderkey"), li("l_linenumber"), li("l_partkey"))
  }

  val nullScanSql: String =
    """SELECT l.l_orderkey, l.l_linenumber, l.l_partkey
      |FROM lineitem l
      |LEFT JOIN (SELECT * FROM part WHERE p_size > 25) p
      |  ON l.l_partkey = p.p_partkey
      |WHERE p.p_name IS NULL
      |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin

  /** groupBy().count() + sort on the aggregate (A7,O3;
    * `etl_spark.ipynb:336,479`). */
  def groupByCount(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .count()
      .orderBy(col("count").desc, col("event_type"))

  val groupByCountSql: String =
    """SELECT event_type, COUNT(*) AS count
      |FROM events
      |GROUP BY event_type
      |ORDER BY count DESC, event_type""".stripMargin

  /** describe()-style summary statistics (A9, `etl_spark.ipynb:194,536`),
    * computed with exact decimal sums so mean/stddev are bit-identical across
    * engines: variance = (Σx² − (Σx)²/n) / (n−1) with Σ, Σx² exact decimals
    * cast to double only at the end (SURVEY §7.6(1)).
    */
  def describeStats(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val x = dec(col("p_retailprice"))
    p.agg(
      count(col("p_retailprice")).as("n"),
      round(dbl(sum(x)) / count(col("p_retailprice")), 6).as("mean"),
      round(
        sqrt((dbl(sum(x * x)) - dbl(sum(x)) * dbl(sum(x)) / count(col("p_retailprice")))
          / (count(col("p_retailprice")) - 1)), 6).as("stddev"),
      min(col("p_retailprice")).as("min"),
      max(col("p_retailprice")).as("max"))
  }

  val describeStatsSql: String =
    """SELECT COUNT(p_retailprice) AS n,
      |       ROUND(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
      |             / COUNT(p_retailprice), 6) AS mean,
      |       ROUND(SQRT((CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))
      |                            * CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
      |                   - CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
      |                     * CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
      |                     / COUNT(p_retailprice))
      |                  / (COUNT(p_retailprice) - 1)), 6) AS stddev,
      |       MIN(p_retailprice) AS min, MAX(p_retailprice) AS max
      |FROM part""".stripMargin

  /** Full `df.describe()` analog (A9, `etl_spark.ipynb:194,536`): one row
    * per numeric column of `part` with count/mean/stddev/min/max — the same
    * exact-decimal mechanics as [[describeStats]], all columns computed in a
    * SINGLE scan (one partial aggregate of 5 measures per column) and then
    * unpivoted from the one aggregate row. min/max emit DOUBLE so the long
    * format is one uniform schema across int and double columns.
    */
  private val DescribeCols = Seq("p_partkey", "p_size", "p_retailprice")

  def describeAll(spark: SparkSession, dir: String): DataFrame = {
    val aggs = DescribeCols.flatMap { c =>
      val x = dec(col(c))
      Seq(
        count(col(c)).as(s"${c}_n"),
        sum(x).as(s"${c}_s"),
        sum(x * x).as(s"${c}_ss"),
        min(dbl(col(c))).as(s"${c}_min"),
        max(dbl(col(c))).as(s"${c}_max"))
    }
    val one = Tables.part(spark, dir).agg(aggs.head, aggs.tail: _*)
    val rows = DescribeCols.map { c =>
      val n = col(s"${c}_n")
      val s = dbl(col(s"${c}_s"))
      val ss = dbl(col(s"${c}_ss"))
      struct(
        lit(c).as("col_name"),
        n.as("n"),
        round(s / n, 6).as("mean"),
        round(sqrt((ss - s * s / n) / (n - 1)), 6).as("stddev"),
        col(s"${c}_min").as("min"),
        col(s"${c}_max").as("max"))
    }
    one.select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  val describeAllSql: String =
    DescribeCols.map { c =>
      s"""SELECT '$c' AS col_name, COUNT($c) AS n,
         |       ROUND(CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) / COUNT($c), 6) AS mean,
         |       ROUND(SQRT((CAST(SUM(CAST($c AS DECIMAL(18,2))
         |                            * CAST($c AS DECIMAL(18,2))) AS DOUBLE)
         |                   - CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)
         |                     * CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) / COUNT($c))
         |                  / (COUNT($c) - 1)), 6) AS stddev,
         |       CAST(MIN($c) AS DOUBLE) AS min, CAST(MAX($c) AS DOUBLE) AS max
         |FROM part""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  val all: Seq[Q] = Seq(
    Q("nb_distinct", distinctProjection(_, _).orderBy("p_brand", "p_type", "p_size"),
      Some(distinctProjectionSql)),
    Q("nb_withcolumn_drop", withLiteralsAndDrop(_, _).orderBy("event_id"),
      Some(withLiteralsAndDropSql)),
    Q("nb_filter_conjunction", filterConjunction(_, _).orderBy("event_id"),
      Some(filterConjunctionSql)),
    Q("nb_null_scan", nullScan(_, _).orderBy("l_orderkey", "l_linenumber"),
      Some(nullScanSql)),
    Q("nb_groupby_count", groupByCount, Some(groupByCountSql)),
    Q("nb_describe", describeStats, Some(describeStatsSql)),
    Q("nb_describe_all", describeAll(_, _).orderBy("col_name"), Some(describeAllSql)))
}
