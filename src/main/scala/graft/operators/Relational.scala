package graft.operators

import graft.{Artifacts, Pipeline, Q, Tables}
import graft.Q._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational operators beyond the reference's own surface, completing the
  * engine vocabulary: set operations (SURVEY §2.7 — absent in reference),
  * distinct aggregates, ROLLUP grouping sets (§2.4 absent rows), and the
  * bronze CSV edge (S1/S2/S4) as a lossless round-trip through the CSV
  * source/sink.
  */
object Relational {

  /** Set operations over user cohorts: buyers who clicked, minus users who
    * errored in the launch window (first two days). UNION/INTERSECT/EXCEPT
    * all compile to hash aggregates/joins on a shuffled key — no driver-side
    * sets. The EXCEPT side is date-bounded so the chain returns a
    * NON-TRIVIAL result at every scale: with an unbounded error side, every
    * click∩purchase user in this data also has some error event, and the
    * gate would hash-match empty-vs-empty — exercising the plan but
    * comparing zero rows (round-9 verdict watch item). */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def ids(t: String) = ev.filter(col("event_type") === t).select(col("user_id")).distinct()
    val launchErrors = ev
      .filter(col("event_type") === "error" &&
        col("ts") < lit("2024-01-03").cast("timestamp"))
      .select(col("user_id")).distinct()
    ids("click").intersect(ids("purchase")).except(launchErrors)
  }

  val setOpsSql: String =
    """SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
      |INTERSECT
      |SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
      |EXCEPT
      |SELECT DISTINCT user_id FROM events
      |WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-03'
      |ORDER BY user_id""".stripMargin

  /** Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL): per-user
    * CLICK events intersected with purchase events by multiplicity, then
    * bag-minus errors — the multiset algebra `rel_set_ops` (distinct
    * semantics) doesn't exercise. Spark plans these as counted joins
    * (generate row_number per duplicate), no driver-side bags. */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def ids(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
    ids("click").intersectAll(ids("purchase")).exceptAll(ids("error"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("multiplicity"))
  }

  val setOpsAllSql: String =
    """WITH r AS (
      |  SELECT user_id FROM events WHERE event_type = 'click'
      |  INTERSECT ALL
      |  SELECT user_id FROM events WHERE event_type = 'purchase'
      |  EXCEPT ALL
      |  SELECT user_id FROM events WHERE event_type = 'error')
      |SELECT user_id, COUNT(*) AS multiplicity
      |FROM r GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Distinct aggregate: exact per-type distinct users + event count.
    * Catalyst plans COUNT(DISTINCT) as a two-phase expand+aggregate — the
    * scalable exact form (approx_count_distinct is the sketch variant). */
  def countDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  val countDistinctSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** ROLLUP over (channel, region): per-pair, per-channel subtotal, and
    * grand total in one pass (Expand + single shuffle). */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame =
    Medallion.silverSales(spark, dir)
      .rollup(col("l_returnflag").as("channel"), col("l_linestatus").as("region"))
      .agg(
        count(lit(1)).as("n"),
        dec2(sum(dec(col("l_extendedprice")))).as("total_revenue"))

  val rollupRevenueSql: String =
    """SELECT l_returnflag AS channel, l_linestatus AS region,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
      |FROM lineitem
      |WHERE l_quantity > 0 AND l_extendedprice > 0
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY channel NULLS FIRST, region NULLS FIRST""".stripMargin

  /** Pivot: revenue per (year, month) with one column per return-flag
    * channel — `groupBy().pivot(values)` compiles to conditional aggregates
    * in a single pass (values pinned, so no extra distinct-scan job). */
  def pivotRevenue(spark: SparkSession, dir: String): DataFrame =
    Medallion.silverSales(spark, dir)
      .groupBy(year(col("l_shipdate")).as("year"), month(col("l_shipdate")).as("month"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(dec2(sum(dec(col("l_extendedprice")))))

  val pivotRevenueSql: String =
    """SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS year,
      |       CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER) AS month,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
      |            FILTER (WHERE l_returnflag = 'A') AS DOUBLE) AS "A",
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
      |            FILTER (WHERE l_returnflag = 'N') AS DOUBLE) AS "N",
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
      |            FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS "R"
      |FROM lineitem
      |WHERE l_quantity > 0 AND l_extendedprice > 0
      |GROUP BY 1, 2
      |ORDER BY year, month""".stripMargin

  /** Semi-structured extraction: pull a typed field out of the JSON props
    * column and aggregate it — the JSON path stays inside codegen
    * (get_json_object), no UDF, no driver-side parsing. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_parsed"),
        sum(col("k")).as("total_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  val jsonExtractSql: String =
    """SELECT event_type,
      |       COUNT(k) AS n_parsed,
      |       CAST(SUM(k) AS BIGINT) AS total_k,
      |       MIN(k) AS min_k,
      |       MAX(k) AS max_k
      |FROM (SELECT event_type,
      |             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |      FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** CUBE over (channel, region): all four grouping sets in one pass. */
  def cubeRevenue(spark: SparkSession, dir: String): DataFrame =
    Medallion.silverSales(spark, dir)
      .cube(col("l_returnflag").as("channel"), col("l_linestatus").as("region"))
      .agg(
        count(lit(1)).as("n"),
        dec2(sum(dec(col("l_extendedprice")))).as("total_revenue"))

  val cubeRevenueSql: String =
    """SELECT l_returnflag AS channel, l_linestatus AS region,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
      |FROM lineitem
      |WHERE l_quantity > 0 AND l_extendedprice > 0
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY channel NULLS FIRST, region NULLS FIRST""".stripMargin

  /** Bronze CSV edge (S1/S2/S4): parquet → CSV sink (header, explicit sep)
    * → CSV source (header + schema inference) must be lossless for this
    * schema, so the oracle is simply the parquet table. Mirrors the
    * reference's LOAD DATA … skip_leading_rows=1 (`etl_medallion.py:90-99`)
    * and the notebook's sep=';', inferSchema read (`etl_spark.ipynb:113`).
    * The sink is staged write-once per input through [[Artifacts.path]], so
    * building the query again never rewrites files an earlier DataFrame
    * still reads, and read through [[Artifacts.read]]: CSV inference runs
    * once per staged file set, and later builds pass its schema back.
    */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Artifacts.path(spark, dir, "rel_csv_part") { p =>
      Tables.part(spark, dir)
        .write.mode("overwrite")
        .option("header", "true").option("sep", ";")
        .csv(p)
    }
    // FAILFAST mirrors the reference's allow_jagged_rows=false
    // (`etl_medallion.py:96`): a malformed row aborts the load instead of
    // silently becoming NULLs (PERMISSIVE) or vanishing (DROPMALFORMED)
    Artifacts.read(spark, out)(_
      .option("header", "true").option("sep", ";").option("inferSchema", "true")
      .option("mode", "FAILFAST")
      .csv(out))
      .select(col("p_partkey").cast("long"), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size").cast("int"), col("p_retailprice").cast("double"))
  }

  val csvRoundtripSql: String =
    """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** Compressed-codec CSV round-trip: same lossless contract as
    * [[csvRoundtrip]] through GZIP part files. Codec choice is a real
    * scale lever — gzip is NOT splittable, so one .csv.gz file = one task
    * regardless of size; at 100 TB land compressed text as many small
    * objects (as here: one per input partition) or use a splittable codec,
    * or parquet. The query pins that the codec layer is lossless and
    * transparent to the reader. */
  def csvGzipRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Artifacts.path(spark, dir, "rel_csv_gzip_supplier") { p =>
      Tables.supplier(spark, dir)
        .write.mode("overwrite")
        .option("header", "true").option("compression", "gzip")
        .csv(p)
    }
    Artifacts.read(spark, out)(_
      .option("header", "true").option("inferSchema", "true")
      .option("mode", "FAILFAST")
      .csv(out))
      .select(col("s_suppkey").cast("long"), col("s_name"),
        col("s_nationkey").cast("int"), col("s_acctbal").cast("double"))
  }

  val csvGzipRoundtripSql: String =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier
      |ORDER BY s_suppkey""".stripMargin

  /** The medallion relations of [[Pipeline.defaultLayers]], by name (the
    * reference's expected-table inventory, `etl_medallion.py:261-265`).
    * The catalog queries read names and columns from these relations'
    * schemas and register nothing: a temp view named like a medallion
    * table would replace the table a [[Pipeline.run]] published in the
    * caller's session. */
  private def medallionLayers(spark: SparkSession, dir: String): Seq[(String, DataFrame)] =
    Pipeline.defaultLayers().flatMap(_._2).map { case (name, fn) => name -> fn(spark, dir) }

  /** Catalog inventory (S6/S7/S9 + the reference's expected-table contract,
    * `etl_medallion.py:261-265`): each medallion relation's layer, name and
    * column count. The oracle pins the expected inventory as a literal — a
    * schema contract, like the reference's hardcoded lists. */
  def catalogInventory(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    medallionLayers(spark, dir).map { case (name, df) =>
      (name.takeWhile(_ != '_'), name, df.schema.fields.length)
    }.toDF("layer", "name", "n_columns")
  }

  val catalogInventorySql: String =
    """SELECT * FROM (VALUES
      |  ('bronze', 'bronze_lineitem', 11),
      |  ('bronze', 'bronze_part', 6),
      |  ('bronze', 'bronze_supplier', 4),
      |  ('gold', 'gold_product_metrics', 7),
      |  ('gold', 'gold_sales_analytics', 14),
      |  ('gold', 'gold_sales_summary', 7),
      |  ('silver', 'silver_products', 6),
      |  ('silver', 'silver_sales', 11),
      |  ('silver', 'silver_suppliers', 5)
      |) AS t(layer, name, n_columns)
      |ORDER BY name""".stripMargin

  /** Catalog column probe (S8): each medallion table's first-5 column names
    * in ordinal order — the reference's INFORMATION_SCHEMA.COLUMNS probe
    * with `ordinal_position <= 5` (`etl_medallion.py:280-290`). The oracle
    * pins the expected names as a literal VALUES list: a schema contract,
    * so any accidental column rename/reorder in silver/gold turns this row
    * red. 44 driver-side metadata rows in one LocalRelation, zero jobs; the
    * ordinal is correct by construction (PipelineSpec pins ordinals = 1..5
    * per table). */
  def catalogColumns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    medallionLayers(spark, dir).flatMap { case (name, df) =>
      df.schema.fieldNames.take(5).zipWithIndex.map { case (c, i) => (name, i + 1, c) }
    }.toDF("name", "ordinal", "col_name")
  }

  val catalogColumnsSql: String = {
    val expected = Seq(
      "bronze_lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"),
      "bronze_part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size"),
      "bronze_supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "silver_sales" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"),
      "silver_products" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size"),
      "silver_suppliers" -> Seq("s_suppkey", "s_name", "s_contact", "s_nationkey", "s_acctbal"),
      "gold_sales_analytics" -> Seq("l_orderkey", "l_linenumber", "product_key", "rep_key", "sale_date"),
      "gold_product_metrics" -> Seq("p_partkey", "p_name", "category", "total_sales", "total_quantity_sold"),
      "gold_sales_summary" -> Seq("year", "month", "channel", "region", "total_transactions"))
    val values = expected.flatMap { case (t, cols) =>
      cols.zipWithIndex.map { case (c, i) => s"  ('$t', ${i + 1}, '$c')" }
    }.mkString(",\n")
    s"""SELECT * FROM (VALUES
       |$values
       |) AS t(name, ordinal, col_name)
       |ORDER BY name, ordinal""".stripMargin
  }

  /** Skew-resistant aggregation: pre-aggregate on (key, salt) — 16-way fan
    * of any hot key — then combine partials. Same result as a direct
    * groupBy (the oracle is the plain form); at 100 TB this is the pattern
    * that keeps one hot event_type from pinning a single reducer.
    * (Catalyst's partial aggregation already does this for algebraic aggs;
    * the explicit form is for sketches/collect-style states that lack a
    * map-side combine, and composes with AQE skew handling.)
    */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("_salt", pmod(hash(col("user_id")), lit(16)))
      .groupBy(col("event_type"), col("_salt"))
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"))).as("v"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("n")).as("n_events"),
        dec2(sum(col("v"))).as("total_value"))

  val saltedAggSql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Deterministic arg-max per group: the most expensive part per brand.
    * `max_by` with a COMPOSITE ordering key — a bare max_by(x, price) is
    * nondeterministic under ties, which is exactly the kind of silent
    * cross-engine divergence the oracle gate exists to catch. The key is
    * the scalar price*1e7 + partkey (exact in doubles at these magnitudes,
    * unique because partkey is unique), identical IEEE math on both sides.
    * One partial-aggregating pass — the cheap form of "top-1 per group"
    * (win_topk_per_group is the general-k window form). */
  def argMax(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy(col("p_brand"))
      .agg(
        max_by(col("p_partkey"),
          col("p_retailprice") * 10000000.0 + col("p_partkey")).as("top_partkey"),
        max(col("p_retailprice")).as("top_price"),
        count(lit(1)).as("n_parts"))

  val argMaxSql: String =
    """SELECT p_brand,
      |       arg_max(p_partkey, p_retailprice * 10000000.0 + p_partkey) AS top_partkey,
      |       MAX(p_retailprice) AS top_price,
      |       COUNT(*) AS n_parts
      |FROM part
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** Explicit GROUPING SETS with grouping_id: the two asymmetric subtotal
    * sets (channel) and (region) in ONE pass — the grouping-sets shape
    * rollup/cube cannot express (rollup nests, cube is all subsets). The
    * grouping_id column disambiguates which set produced each row, which
    * the NULL key alone cannot (a genuinely NULL key vs a rolled-up one). */
  def groupingSetsRevenue(spark: SparkSession, dir: String): DataFrame =
    Medallion.silverSales(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n"),
        dec2(sum(dec(col("l_extendedprice")))).as("total_revenue"))
      .select(col("l_returnflag").as("channel"), col("l_linestatus").as("region"),
        col("gid"), col("n"), col("total_revenue"))

  val groupingSetsRevenueSql: String =
    """SELECT l_returnflag AS channel, l_linestatus AS region,
      |       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
      |FROM lineitem
      |WHERE l_quantity > 0 AND l_extendedprice > 0
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
      |ORDER BY gid, channel NULLS FIRST, region NULLS FIRST""".stripMargin

  /** Exact interpolated percentiles per group (median, p90), computed with
    * a PINNED interpolation formula instead of the engines' built-ins.
    * Spark's `percentile` and DuckDB's `quantile_cont` interpolate the same
    * mathematical value but with different floating-point op orders — they
    * agreed at sf0.001..0.1 by luck and diverged in the last ulp at sf1
    * (p90 115.3 vs 115.29999999999998), the round-7 sweep catch. The fix is
    * the int/int-division discipline: the interpolation position m·(n−1)/10
    * is split into an exact integer index (div) and an exact integer
    * remainder r (pmod), and BOTH engines evaluate the identical expression
    * a + (r/10.0)·(b−a) — same inputs, same IEEE op order, bit-identical
    * result. One window sort per group, two picked rows, no data-sized
    * state: the same plan shape survives any scale. */
  def quantiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val cw = Window.partitionBy(col("event_type"))
    val ranked = Tables.events(spark, dir)
      .select(col("event_type"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cw))
    ranked.groupBy(col("event_type")).agg(
        max(when(expr("rn - 1 = div(5*(n-1), 10)"), col("value"))).as("a50"),
        max(when(expr("rn - 1 = least(div(5*(n-1), 10) + 1, n - 1)"),
          col("value"))).as("b50"),
        max(expr("pmod(5*(n-1), 10)")).as("r50"),
        max(when(expr("rn - 1 = div(9*(n-1), 10)"), col("value"))).as("a90"),
        max(when(expr("rn - 1 = least(div(9*(n-1), 10) + 1, n - 1)"),
          col("value"))).as("b90"),
        max(expr("pmod(9*(n-1), 10)")).as("r90"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("event_type"),
        expr("a50 + (cast(r50 as double) / 10.0) * (b50 - a50)").as("p50"),
        expr("a90 + (cast(r90 as double) / 10.0) * (b90 - a90)").as("p90"),
        col("min_value"), col("max_value"))
  }

  val quantilesSql: String =
    """WITH ranked AS (
      |  SELECT event_type, value,
      |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |g AS (
      |  SELECT event_type,
      |         MAX(CASE WHEN rn - 1 = (5*(n-1))//10 THEN value END) AS a50,
      |         MAX(CASE WHEN rn - 1 = LEAST((5*(n-1))//10 + 1, n - 1) THEN value END) AS b50,
      |         MAX((5*(n-1))%10) AS r50,
      |         MAX(CASE WHEN rn - 1 = (9*(n-1))//10 THEN value END) AS a90,
      |         MAX(CASE WHEN rn - 1 = LEAST((9*(n-1))//10 + 1, n - 1) THEN value END) AS b90,
      |         MAX((9*(n-1))%10) AS r90,
      |         MIN(value) AS min_value, MAX(value) AS max_value
      |  FROM ranked GROUP BY event_type)
      |SELECT event_type,
      |       a50 + (CAST(r50 AS DOUBLE) / 10.0) * (b50 - a50) AS p50,
      |       a90 + (CAST(r90 AS DOUBLE) / 10.0) * (b90 - a90) AS p90,
      |       min_value, max_value
      |FROM g
      |ORDER BY event_type""".stripMargin

  /** HyperLogLog distinct-count sketch next to the exact count. The sketch
    * estimate itself is engine-specific, so the oracle-checkable output is
    * the exact count plus a deterministic error bound: Spark's HLL++ is a
    * pure function of the input multiset (order-independent max-merge of
    * registers), so `within_5pct` is reproducible for fixed input and the
    * oracle pins it as literal TRUE. At 100 TB the sketch is the only
    * affordable way to count distincts per high-cardinality group; the spec
    * (SketchSpec) additionally bounds the raw estimate at 5% relative error.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        count_distinct(col("user_id")).as("exact_users"))
      .select(
        col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users"))
          <= col("exact_users") * 0.05).as("within_5pct"))

  val approxDistinctSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
      |       true AS within_5pct
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** SCD2 (slowly-changing-dimension) versioning — the MERGE-shaped
    * dimension-maintenance operation of a warehouse ETL: given the current
    * dimension and an incoming snapshot, emit one row per key-version with
    * an is_current flag; unchanged keys keep their single version, changed
    * keys close the old version and open a new one. Expressed as a join of
    * the two snapshots + a union (the engine-agnostic form of MERGE WHEN
    * MATCHED/NOT MATCHED): one shuffle on the key. The "incoming snapshot"
    * is derived deterministically here (every third supplier's balance
    * shifts) — in production it arrives as the day's extract. */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    val cur = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
    val incoming = cur
      .withColumn("s_acctbal",
        when(col("s_suppkey") % 3 === 0, col("s_acctbal") + 100.0)
          .otherwise(col("s_acctbal")))
    val joined = cur.as("c").join(incoming.as("i"), "s_suppkey")
    val changed = joined.filter(col("c.s_acctbal") =!= col("i.s_acctbal"))
    val closedOld = changed.select(col("s_suppkey"), col("c.s_name").as("s_name"),
      col("c.s_acctbal").as("s_acctbal"), lit(1).as("version"), lit(false).as("is_current"))
    val openedNew = changed.select(col("s_suppkey"), col("i.s_name").as("s_name"),
      col("i.s_acctbal").as("s_acctbal"), lit(2).as("version"), lit(true).as("is_current"))
    val unchanged = joined.filter(col("c.s_acctbal") === col("i.s_acctbal"))
      .select(col("s_suppkey"), col("c.s_name").as("s_name"),
        col("c.s_acctbal").as("s_acctbal"), lit(1).as("version"), lit(true).as("is_current"))
    unchanged.unionByName(closedOld).unionByName(openedNew)
  }

  val scd2Sql: String =
    """WITH cur AS (SELECT s_suppkey, s_name, s_acctbal FROM supplier),
      |inc AS (SELECT s_suppkey, s_name,
      |               CASE WHEN s_suppkey % 3 = 0 THEN s_acctbal + 100.0
      |                    ELSE s_acctbal END AS s_acctbal
      |        FROM supplier)
      |SELECT c.s_suppkey, c.s_name, c.s_acctbal,
      |       CAST(1 AS INTEGER) AS version, c.s_acctbal = i.s_acctbal AS is_current
      |FROM cur c JOIN inc i USING (s_suppkey)
      |UNION ALL
      |SELECT c.s_suppkey, c.s_name, i.s_acctbal,
      |       CAST(2 AS INTEGER) AS version, true AS is_current
      |FROM cur c JOIN inc i USING (s_suppkey)
      |WHERE c.s_acctbal <> i.s_acctbal
      |ORDER BY s_suppkey, version""".stripMargin

  private val PitCutoverDay = 9000 // 1994-08-22: mid-range of the order dates

  /** POINT-IN-TIME join against a validity-windowed (SCD2-style) dimension:
    * each order joined to the dimension version valid ON ITS ORDER DATE —
    * the lookup every fact load against a slowly-changing dimension runs
    * (as-of semantics expressed relationally: equi-key + half-open range
    * containment). The synthetic history: every 4th customer's segment was
    * 'LEGACY' before [[PitCutoverDay]] and its current value after;
    * validity ranges partition the timeline, so each fact row matches
    * exactly one version. The planner hash-joins the equi key and applies
    * the range as a post-filter — the at-scale shape since version
    * cardinality per key is tiny (the range never drives the join). */
  def pitJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val changed = cust.filter(col("c_custkey") % 4 === 0)
    val dim = cust.filter(col("c_custkey") % 4 =!= 0)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        lit(0).as("valid_from"), lit(Int.MaxValue).as("valid_to"))
      .unionByName(changed.select(col("c_custkey"), lit("LEGACY").as("segment"),
        lit(0).as("valid_from"), lit(PitCutoverDay).as("valid_to")))
      .unionByName(changed.select(col("c_custkey"), col("c_mktsegment").as("segment"),
        lit(PitCutoverDay).as("valid_from"), lit(Int.MaxValue).as("valid_to")))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("order_day"))
      .join(dim,
        col("o_custkey") === col("c_custkey") &&
          col("order_day") >= col("valid_from") && col("order_day") < col("valid_to"))
      .select(col("o_orderkey"), col("o_custkey"), col("order_day"), col("segment"))
  }

  val pitJoinSql: String =
    s"""WITH dim AS (
       |  SELECT c_custkey, c_mktsegment AS segment,
       |         0 AS valid_from, 2147483647 AS valid_to
       |  FROM customer WHERE c_custkey % 4 <> 0
       |  UNION ALL
       |  SELECT c_custkey, 'LEGACY', 0, $PitCutoverDay
       |  FROM customer WHERE c_custkey % 4 = 0
       |  UNION ALL
       |  SELECT c_custkey, c_mktsegment, $PitCutoverDay, 2147483647
       |  FROM customer WHERE c_custkey % 4 = 0),
       |o AS (SELECT o_orderkey, o_custkey,
       |             CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
       |                  AS INTEGER) AS order_day
       |      FROM orders)
       |SELECT o_orderkey, o_custkey, order_day, segment
       |FROM o JOIN dim
       |  ON o_custkey = c_custkey
       | AND order_day >= valid_from AND order_day < valid_to
       |ORDER BY o_orderkey""".stripMargin

  /** Snapshot reconciliation — the FULL OUTER JOIN face of the engine:
    * diff two dimension snapshots into added / removed / retained rows in
    * one pass (the audit report run after every incremental load; SCD2
    * handles the retained-and-changed refinement). The incoming snapshot is
    * derived deterministically: every 10th supplier disappears (removed)
    * and every 7th gains a shifted-key clone (added). One shuffle on the
    * key; the classifier is null-probing on both sides, which is exactly
    * what full outer exists for. */
  def reconcile(spark: SparkSession, dir: String): DataFrame = {
    val cur = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_acctbal"))
    val inc = cur.filter(col("s_suppkey") % 10 =!= 0)
      .unionByName(cur.filter(col("s_suppkey") % 7 === 0)
        .select((col("s_suppkey") + 100000).as("s_suppkey"), col("s_acctbal")))
    cur.as("c").join(inc.as("i"),
        col("c.s_suppkey") === col("i.s_suppkey"), "full_outer")
      .select(
        coalesce(col("c.s_suppkey"), col("i.s_suppkey")).as("s_suppkey"),
        when(col("c.s_suppkey").isNull, "added")
          .when(col("i.s_suppkey").isNull, "removed")
          .otherwise("retained").as("status"),
        coalesce(col("i.s_acctbal"), col("c.s_acctbal")).as("s_acctbal"))
  }

  val reconcileSql: String =
    """WITH cur AS (SELECT s_suppkey, s_acctbal FROM supplier),
      |inc AS (SELECT s_suppkey, s_acctbal FROM cur WHERE s_suppkey % 10 <> 0
      |        UNION ALL
      |        SELECT s_suppkey + 100000, s_acctbal FROM cur WHERE s_suppkey % 7 = 0)
      |SELECT COALESCE(c.s_suppkey, i.s_suppkey) AS s_suppkey,
      |       CASE WHEN c.s_suppkey IS NULL THEN 'added'
      |            WHEN i.s_suppkey IS NULL THEN 'removed'
      |            ELSE 'retained' END AS status,
      |       COALESCE(i.s_acctbal, c.s_acctbal) AS s_acctbal
      |FROM cur c FULL OUTER JOIN inc i ON c.s_suppkey = i.s_suppkey
      |ORDER BY s_suppkey""".stripMargin

  /** Quantile sketch next to the exact percentile, same contract as
    * [[approxDistinct]]: the sketch value itself is engine-specific, so the
    * oracle-checkable output is the exact interpolated median plus a
    * deterministic error-bound boolean (Spark's approx_percentile is a
    * pure function of the input multiset for a fixed accuracy). At 100 TB
    * the sketch is one pass + constant memory per group; the exact form
    * sorts each group. */
  def approxQuantile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").as("exact_p50"),
        expr("approx_percentile(value, 0.5, 10000)").as("approx_p50"))
      .select(
        col("event_type"), col("exact_p50"),
        (abs(col("approx_p50") - col("exact_p50"))
          <= abs(col("exact_p50")) * 0.05).as("within_5pct"))

  val approxQuantileSql: String =
    """SELECT event_type, quantile_cont(value, 0.5) AS exact_p50,
      |       true AS within_5pct
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Partitioned parquet sink + partition-pruned read-back (the S3 sink row
    * generalized to the layout a 100 TB table actually uses): write lineitem
    * partitioned by l_returnflag, read it back filtered to ONE partition,
    * aggregate. The read plan scans only the `l_returnflag=R` directory —
    * partition pruning happens at file listing, before any I/O; at scale
    * that is the difference between reading 100 TB and reading one flag's
    * share. Staged write-once per input through [[Artifacts.path]], as in
    * [[csvRoundtrip]]: repeat invocations read the existing layout, as a
    * production job reads yesterday's partitioned snapshot, with the schema
    * the first read inferred (partition discovery and pruning still run). */
  def partitionedRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Artifacts.path(spark, dir, "rel_partitioned_lineitem") { p =>
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_returnflag"))
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(p)
    }
    Artifacts.read(spark, out)(_.parquet(out))
      .filter(col("l_returnflag") === "R")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        dec2(sum(dec(col("l_quantity")))).as("sum_qty"))
  }

  val partitionedRoundtripSql: String =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_returnflag = 'R'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** REFERENTIAL-INTEGRITY audit: orphan counts for the star schema's
    * three foreign keys, each a LEFT ANTI join (never a NOT IN — the
    * anti-join shuffles keys, a NOT-IN list would collect to the driver).
    * The complement of [[graft.operators.Medallion]]'s expectation checks:
    * those validate values, this validates the JOIN GRAPH — the audit a
    * pipeline runs before trusting any denormalization. At 100 TB each
    * check is one key-projected scan per side (ReadSchema = the key
    * column), and the dim side broadcasts. */
  def refIntegrity(spark: SparkSession, dir: String): DataFrame = {
    // Round-17 (guide §2.4): each branch is ONE aggregate over a left join
    // against the distinct dim keys — distinct ⇒ no row multiplication, so
    // COUNT(*) is the fact total and the null-count equals the old
    // anti-join count exactly. The previous form paid a second full fact
    // pass for the total plus a crossJoin per branch, and lineitem's two
    // checks each re-scanned the fact; they now share a single scan. No
    // hint on the dim-key sets: orders' key set is fact-scale at sf6+ (a
    // forced broadcast measured 2.7× slower there).
    val liChecks = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey").as("l_orderkey")).distinct()
          .withColumn("_ho", lit(1)),
        Seq("l_orderkey"), "left")
      .join(Tables.part(spark, dir)
          .select(col("p_partkey").as("l_partkey")).distinct()
          .withColumn("_hp", lit(1)),
        Seq("l_partkey"), "left")
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("_ho").isNull, 1)).as("orph_o"),
        count(when(col("_hp").isNull, 1)).as("orph_p"))
      .selectExpr(
        """stack(2,
          |  'lineitem.l_orderkey->orders', n_rows, orph_o,
          |  'lineitem.l_partkey->part',    n_rows, orph_p)
          |AS (fk, n_rows, n_orphans)""".stripMargin)
    val ordChecks = Tables.orders(spark, dir)
      .select(col("o_custkey"))
      .join(Tables.customer(spark, dir)
          .select(col("c_custkey").as("o_custkey")).distinct()
          .withColumn("_hc", lit(1)),
        Seq("o_custkey"), "left")
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("_hc").isNull, 1)).as("n_orphans"))
      .select(lit("orders.o_custkey->customer").as("fk"),
        col("n_rows"), col("n_orphans"))
    liChecks.unionByName(ordChecks)
      .select(col("fk"), col("n_rows"), col("n_orphans"),
        (col("n_orphans").cast("double") / col("n_rows")).as("orphan_frac"))
  }

  val refIntegritySql: String =
    """SELECT 'lineitem.l_orderkey->orders' AS fk,
      |       (SELECT COUNT(*) FROM lineitem) AS n_rows,
      |       COUNT(*) AS n_orphans,
      |       CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM lineitem)
      |         AS orphan_frac
      |FROM lineitem WHERE NOT EXISTS
      |  (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
      |UNION ALL
      |SELECT 'orders.o_custkey->customer',
      |       (SELECT COUNT(*) FROM orders),
      |       COUNT(*),
      |       CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM orders)
      |FROM orders WHERE NOT EXISTS
      |  (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
      |UNION ALL
      |SELECT 'lineitem.l_partkey->part',
      |       (SELECT COUNT(*) FROM lineitem),
      |       COUNT(*),
      |       CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM lineitem)
      |FROM lineitem WHERE NOT EXISTS
      |  (SELECT 1 FROM part WHERE p_partkey = l_partkey)
      |ORDER BY fk""".stripMargin

  /** BUCKETED storage round-trip under the oracle gate: both fact tables
    * written as bucketed artifacts on their join key
    * ([[Artifacts.bucketedTable]]: external parquet tables in the artifact
    * namespace, one bucket per shuffle partition), then the fact×fact join
    * read back bucket-to-bucket. This is the declared-query face of what
    * BucketedJoinSpec asserts at the plan level (bucket co-location ⇒ ZERO
    * exchange on either side of the sort-merge join) — the storage-layout
    * lever for the one genuinely large×large join in the schema, and the
    * 100 TB answer to re-shuffling a snapshot on every daily join. The
    * layout is write-once per input, as a production job reads yesterday's
    * bucketed snapshot. Results must be identical to the unbucketed join
    * (layout, not semantics) — which is exactly what the DuckDB oracle
    * checks. */
  def bucketedRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val orders = Artifacts.bucketedTable(spark, dir, "rel_bkt_orders", Seq("o_orderkey"))(
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")))
    val lineitem = Artifacts.bucketedTable(spark, dir, "rel_bkt_lineitem", Seq("l_orderkey"))(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice")))
    orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        dec2(sum(dec(col("l_extendedprice")))).as("revenue"))
  }

  val bucketedRoundtripSql: String =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Object-store staging round-trip (S5): [[graft.sources.Stage.put]]
    * writes the customer table under the artifact root, qualified to a
    * Hadoop-FS URI (`file:` for the default local root, any configured
    * scheme otherwise), and [[graft.sources.Stage.get]] reads it back
    * (reference `data_generator.py:280-291` uploads to
    * `gs://bucket/landing/…` — the identical call with the GCS connector
    * on a cluster classpath; the URI scheme is the ONLY difference).
    * Staging is write-once per input ([[Artifacts.path]]): repeat
    * invocations read the existing staged object set. The oracle is the
    * source table — staging must be lossless. */
  def uriStageRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val staged = Artifacts.path(spark, dir, "rel_uri_stage_customer") { p =>
      graft.sources.Stage.put(Tables.customer(spark, dir), p)
    }
    graft.sources.Stage.get(spark, staged, schema = Some(Tables.customerSchema))
  }

  val uriStageRoundtripSql: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** Exact distinct users per event type through the [[graft.functions
    * .BitmapDistinct]] typed aggregator — bitmap partials OR-merged across
    * partitions, popcount at the end. Same result as COUNT(DISTINCT) (the
    * oracle) with a different execution shape: no per-group distinct
    * shuffle of the id column, just fixed-size bitmap partials — the
    * bitmap-index aggregation pattern. */
  def bitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    val bd = udaf(graft.functions.BitmapDistinct)
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(bd(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))
  }

  val bitmapDistinctSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
      |       COUNT(*) AS n_events
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Space-Saving heavy hitters as a declared query, run in its EXACT
    * regime: capacity 16 > the key cardinality of event_type, so no counter
    * is ever evicted, counts are exact and err = 0 — which is what makes a
    * deterministic SQL oracle possible (GROUP BY count + literal 0). The
    * sketch's raison d'être is the INEXACT regime (top URLs over 100 TB
    * where the key space dwarfs memory, bounds spec-checked in
    * HeavyHittersSpec); this query pins the aggregator's plumbing — typed
    * Aggregator, partial sketches per partition, associative merge — under
    * the oracle gate. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hh = Tables.events(spark, dir)
      .select(col("event_type")).as[String]
      .select(new graft.functions.SpaceSaving(16).toColumn.name("hh"))
    hh.select(explode(col("hh")).as("h"))
      .select(col("h.key").as("event_type"), col("h.count").as("n_events"),
        col("h.err").as("count_err"))
  }

  val heavyHittersSql: String =
    """SELECT event_type, COUNT(*) AS n_events, CAST(0 AS BIGINT) AS count_err
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  private val HistBinWidth = 10.0

  /** Fixed-width binned histogram of event values — the profiling scan a
    * pipeline runs before choosing filter thresholds. bin =
    * floor(value / width) on non-negative values (div == floor in both
    * engines there; negatives land in bin floor(v/w) via explicit FLOOR).
    * One partial-aggregated shuffle of (type, bin) — a few hundred groups
    * regardless of input scale. */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        floor(col("value") / HistBinWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("bin"),
        (col("bin") * HistBinWidth).as("bin_lo"), col("n"))

  val histogramSql: String =
    s"""SELECT event_type,
       |       CAST(FLOOR(value / $HistBinWidth) AS BIGINT) AS bin,
       |       CAST(FLOOR(value / $HistBinWidth) AS BIGINT) * $HistBinWidth AS bin_lo,
       |       COUNT(*) AS n
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY event_type, bin""".stripMargin

  /** UNPIVOT/melt: widen-to-long of part's numeric measures — the inverse
    * of [[pivotRevenue]], closing the reshape pair. Spark's native
    * `unpivot` (no explode/union of scans: one pass, two output rows per
    * input row); the oracle uses the equivalent UNION ALL form. */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"),
        col("p_size").cast("double").as("p_size"),
        col("p_retailprice").cast("double").as("p_retailprice"))
      .unpivot(
        Array(col("p_partkey")),
        Array(col("p_size"), col("p_retailprice")),
        "metric", "value")

  val unpivotMeasuresSql: String =
    """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value
      |FROM part
      |UNION ALL
      |SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE)
      |FROM part
      |ORDER BY p_partkey, metric""".stripMargin

  /** Pearson correlation per return flag — computed from EXACT decimal
    * sufficient statistics (Σx, Σy, Σx², Σy², Σxy in DECIMAL, associative
    * and partial-agg-order-independent), finished by ONE double expression
    * (products, subtraction, sqrt, division — all IEEE-deterministic),
    * rounded to 6 dp because the engines' DECIMAL→DOUBLE casts can differ
    * in the last ulp once a sum exceeds 15 significant digits.
    * Spark's native `corr` accumulates doubles and its result depends on
    * partitioning; this form is reproducible anywhere, which is why it can
    * sit under a hash-match oracle at all. */
  def corrExact(spark: SparkSession, dir: String): DataFrame = {
    import graft.Q.dec
    val qd = dec(col("l_quantity"))
    val pd = dec(col("l_extendedprice"))
    val agg = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(qd).as("sx"), sum(pd).as("sy"),
        sum(qd * qd).as("sxx"), sum(pd * pd).as("syy"), sum(qd * pd).as("sxy"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    agg.select(
      col("l_returnflag"), col("n"),
      round((nD * d("sxy") - d("sx") * d("sy")) /
        sqrt((nD * d("sxx") - d("sx") * d("sx")) * (nD * d("syy") - d("sy") * d("sy"))), 6)
        .as("corr_qty_price"))
  }

  val corrExactSql: String =
    """WITH a AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
      |         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
      |         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
      |         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
      |         SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, n,
      |       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |       / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
      |         AS corr_qty_price
      |FROM a
      |ORDER BY l_returnflag""".stripMargin

  /** Temporal arithmetic per order month: epoch-day min/max/span and
    * weekend-order counts — the date-function vocabulary (trunc-to-month
    * key, date difference, day-of-week classification) beyond the EXTRACT
    * pair the gold tier already covers. Dates are compared as epoch-day
    * INTEGERS (cross-engine-stable; DATE columns hash engine-specifically)
    * and day-of-week uses Spark `weekday` (Mon=0) mirrored by DuckDB
    * `isodow` (Mon=1) with shifted thresholds — the two engines' default
    * dayofweek numberings disagree. */
  def dateArithmetic(spark: SparkSession, dir: String): DataFrame = {
    val d = to_date(col("o_orderdate"))
    val epochDay = datediff(d, lit("1970-01-01"))
    Tables.orders(spark, dir)
      .groupBy((year(d) * 100 + month(d)).as("ym"))
      .agg(
        count(lit(1)).as("n_orders"),
        min(epochDay).as("first_epoch_day"),
        max(epochDay).as("last_epoch_day"),
        (max(epochDay) - min(epochDay)).as("span_days"),
        count(when(expr("weekday(o_orderdate)") >= 5, 1)).as("n_weekend"))
  }

  val dateArithmeticSql: String =
    """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INTEGER) AS ym,
      |       COUNT(*) AS n_orders,
      |       CAST(MIN(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
      |            AS INTEGER) AS first_epoch_day,
      |       CAST(MAX(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
      |            AS INTEGER) AS last_epoch_day,
      |       CAST(MAX(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
      |          - MIN(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
      |            AS INTEGER) AS span_days,
      |       COUNT(CASE WHEN isodow(o_orderdate) >= 6 THEN 1 END) AS n_weekend
      |FROM orders
      |GROUP BY 1
      |ORDER BY ym""".stripMargin

  /** Ordered string aggregation (LISTAGG/string_agg): the distinct types
    * per brand, sorted and joined — deterministic because the list is
    * SORTED before joining (an unordered collect_list is partition-luck;
    * the sort is what makes this oracle-checkable at all). */
  def stringAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_brand"), col("p_type")).distinct()
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_types"),
        array_join(array_sort(collect_list(col("p_type"))), "|").as("types"))

  val stringAggSql: String =
    """WITH d AS (SELECT DISTINCT p_brand, p_type FROM part)
      |SELECT p_brand, COUNT(*) AS n_types,
      |       string_agg(p_type, '|' ORDER BY p_type) AS types
      |FROM d
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** Mergeable distinct-count sketches (Datasketches HLL): per-type
    * sketches union-merged into a corpus-wide estimate, checked against the
    * single-pass sketch AND the exact count. This is the 100 TB pattern the
    * plain approx_count_distinct row can't show: sketch each partition/day
    * independently, persist the sketches, merge on demand — re-aggregation
    * without re-scanning the corpus.
    *
    * The round-6 form pinned `estimate(union(sketches)) ==
    * estimate(sketch(all))` as an exact identity ("register max-merge is
    * associative"). That identity holds only while the sketches are in
    * SPARSE mode — it was green at sf0.001..0.1 and FALSE at sf1, the
    * round-7 sweep catch: a dense Datasketches HLL estimates through the
    * HIP accumulator, which a union cannot reconstruct, so the merged
    * estimate legitimately differs from the direct one. The register state
    * union IS still lossless; the estimator is not. The oracle-checkable,
    * scale-stable property is the ERROR BOUND of each estimate (lgK=14 ⇒
    * relative standard error ~0.8%; 5% is >6 sigma), pinned for both the
    * merged and the direct path. */
  def hllUnion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val merged = ev
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("merged_est"))
    val direct = ev.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("direct_est"),
      count_distinct(col("user_id")).as("exact_users"))
    direct.crossJoin(merged).select(
      col("exact_users"),
      (abs(col("merged_est") - col("exact_users"))
        <= col("exact_users") * 0.05).as("merge_within_5pct"),
      (abs(col("direct_est") - col("exact_users"))
        <= col("exact_users") * 0.05).as("within_5pct"))
  }

  val hllUnionSql: String =
    """SELECT COUNT(DISTINCT user_id) AS exact_users,
      |       true AS merge_within_5pct, true AS within_5pct
      |FROM events
      |ORDER BY exact_users""".stripMargin

  /** Tier boundaries for [[rangeJoin]]: [lo, hi) value bands. */
  private val Tiers = Seq(
    ("bronze", 0.0, 100.0), ("silver", 100.0, 250.0),
    ("gold", 250.0, 500.0), ("platinum", 500.0, 1000000.0))

  /** CATEGORICAL IMPURITY PROFILE: Gini impurity (1 − Σ pᵢ²) and distinct
    * count per categorical column of documents — the stratification-
    * readiness probe (a near-zero-impurity column can't balance a sample;
    * a high-impurity one makes a good shard/stratum key). Gini, unlike
    * entropy, needs NO logarithm — libm log differs across engines, Σ c²
    * is an exact integer — so the profile is exactly reproducible. One
    * map-side-combined aggregate per column. Σc² accumulates in
    * DECIMAL(38,0)/HUGEINT (the anomalyDays discipline): a category past
    * ~3×10⁹ rows would overflow cnt·cnt in BIGINT, where Spark (non-ANSI)
    * wraps silently but DuckDB raises — widening keeps the engines
    * identical at any scale. (The final p² division runs in doubles:
    * exact for corpora below 2²⁶ rows; the comparison here is
    * informational, not a decision boundary.) */
  def giniProfile(spark: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def one(c: String): DataFrame =
      Tables.documents(spark, dir)
        .groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_distinct"), sum(col("cnt")).as("n"),
          sum(col("cnt").cast(d38) * col("cnt")).as("ss"))
        .select(lit(c).as("column_name"), col("n_distinct"),
          (lit(1.0) - col("ss").cast("double") /
            (col("n").cast("double") * col("n").cast("double"))).as("gini"))
    one("lang").unionByName(one("source"))
  }

  val giniProfileSql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_distinct,
         |       1.0 - CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS DOUBLE)
         |             / (CAST(SUM(cnt) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE)) AS gini
         |FROM (SELECT $c, COUNT(*) AS cnt FROM documents GROUP BY $c)""".stripMargin
    s"""${one("lang")}
       |UNION ALL
       |${one("source")}
       |ORDER BY column_name""".stripMargin
  }

  /** SKYLINE (Pareto frontier) over part: the parts no other part beats on
    * BOTH price (lower better) and size (higher better). The classic OLAP
    * dominance query — and the classic quadratic trap: the textbook
    * NOT-EXISTS dominance test plans a part×part nested loop. The 2-D
    * skyline instead falls out of TWO WINDOW PASSES over the price order:
    * a row survives iff (a) no strictly-cheaper row has size ≥ its size
    * (running max over the RANGE frame ending 1 cent before) and (b) it
    * ties the max size within its own price point (equal price + larger
    * size dominates; exact ties are mutually non-dominating and all
    * survive). Price compares in exact DECIMAL cents. One sort instead of
    * a self-join — and the running max is row-gated by
    * [[TwoPass.prefixMaxExclusiveRange]]: the single-task global window
    * below the gate, per-bucket range frames + broadcast cross-bucket
    * prefix maxes above it (TwoPassSpec holds the regimes identical). */
  def skyline(spark: SparkSession, dir: String): DataFrame =
    skylineWithGate(spark, dir, TwoPass.WindowGateRows)

  private[graft] def skylineWithGate(
      spark: SparkSession, dir: String, gate: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"),
        (dec(col("p_retailprice")) * 100).cast("long").as("price_cents"),
        col("p_size"))
    val wSame = Window.partitionBy(col("price_cents"))
    TwoPass.prefixMaxExclusiveRange(p, "price_cents", "p_size", "m_cheaper",
      Tables.rows(spark, dir, "part"), gate)
      .withColumn("m_same", max(col("p_size")).over(wSame))
      .filter((col("m_cheaper").isNull || col("m_cheaper") < col("p_size")) &&
        col("p_size") === col("m_same"))
      .select(col("p_partkey"), col("p_name"), col("price_cents"), col("p_size"))
  }

  val skylineSql: String =
    """WITH p AS (SELECT p_partkey, p_name,
      |                  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |                    AS price_cents,
      |                  p_size
      |           FROM part),
      |w AS (SELECT p_partkey, p_name, price_cents, p_size,
      |             MAX(p_size) OVER (ORDER BY price_cents
      |               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_cheaper,
      |             MAX(p_size) OVER (PARTITION BY price_cents) AS m_same
      |      FROM p)
      |SELECT p_partkey, p_name, price_cents, p_size
      |FROM w
      |WHERE (m_cheaper IS NULL OR m_cheaper < p_size) AND p_size = m_same
      |ORDER BY p_partkey""".stripMargin

  /** Non-equi range (band) join: classify every event into a value tier by
    * `lo <= value < hi` against a 4-row tier table. The generic point-
    * in-interval join (pricing tiers, IP→geo ranges, SLA buckets): the
    * planner broadcasts the local tier relation at any scale, so this is ONE
    * corpus scan probing a tiny interval list — the plan to want at 100 TB
    * (the equi-join fallback is binning both sides to overlapping buckets;
    * unnecessary at 4 rows). */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tiers = Tiers.toDF("tier", "lo", "hi")
    Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("value") >= 0)
      .join(tiers,
        col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("tier"))
      .agg(
        count(lit(1)).as("n_events"),
        dec2(sum(dec(col("value")))).as("total_value"))
  }

  val rangeJoinSql: String = {
    val values = Tiers.map { case (t, lo, hi) => s"('$t', $lo, $hi)" }.mkString(", ")
    s"""SELECT tier, COUNT(*) AS n_events,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
       |FROM events JOIN (VALUES $values) AS t(tier, lo, hi)
       |  ON value >= lo AND value < hi
       |WHERE value IS NOT NULL AND value >= 0
       |GROUP BY tier
       |ORDER BY tier""".stripMargin
  }

  private val JoinSalt = 16

  /** Skew-safe salted equi-join: fact rows carry salt = hash(key) % 16, the
    * dim side is replicated 16× with explode(sequence), and the join runs
    * on (key, salt) — fanning any hot key over 16 reducers. Same result as
    * the plain join (the oracle IS the plain join). AQE's skew splitter
    * handles sort-merge skew automatically; the explicit salt is for the
    * cases it can't touch — skewed windows/collect-states downstream of the
    * join, or a static planner. Salt count trades dim duplication for
    * parallelism: 16× a broadcastable dim is still tiny. */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.orders(spark, dir)
      .withColumn("_salt", pmod(hash(col("o_custkey")), lit(JoinSalt)))
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        explode(sequence(lit(0), lit(JoinSalt - 1))).as("_salt"))
    fact.join(dim,
        fact("o_custkey") === dim("c_custkey") && fact("_salt") === dim("_salt"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        dec2(sum(dec(col("o_totalprice")))).as("total_price"))
  }

  val saltedJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** INCREMENTAL AGGREGATE MAINTENANCE — the warehouse pattern that keeps a
    * gold rollup current without re-scanning history: the standing aggregate
    * (here the orders with `o_orderkey % 8 != 0`, standing in for
    * yesterday's materialized state) is merged with the partial aggregate of
    * the newly-arrived delta batch (`% 8 == 0`) by summing counts/sums and
    * max-ing maxes — every measure chosen is associative and commutative, so
    * state ⊎ delta equals the full recompute EXACTLY (decimal sums, not
    * float). The oracle IS that full recompute over all of orders: the
    * correctness gate certifies the merge law, not just the numbers. At
    * 100 TB this is the difference between scanning a day and scanning a
    * decade — the standing aggregate is O(groups), the delta scan is
    * O(day), and the merge shuffles only group keys. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    def partial(predicateHolds: Boolean): DataFrame =
      Tables.orders(spark, dir)
        .filter(if (predicateHolds) col("o_orderkey") % 8 === 0
                else col("o_orderkey") % 8 =!= 0)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(dec(col("o_totalprice"))).as("sum_price"),
          max(dec(col("o_totalprice"))).as("max_price"))
    partial(predicateHolds = false).unionAll(partial(predicateHolds = true))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("n_orders")).as("n_orders"),
        dec2(sum(col("sum_price"))).as("total_price"),
        dec2(max(col("max_price"))).as("max_price"))
  }

  val incrementalAggSql: String =
    """SELECT o_orderstatus,
      |       COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |         AS total_price,
      |       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |         AS max_price
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Exact median + deterministic mode per brand. Spark's `mode()` (and
    * DuckDB's) break frequency ties arbitrarily — a silent cross-engine
    * divergence — so the mode is computed as arg-max over (count, −value):
    * highest count, ties to the SMALLEST size. Median is linear
    * interpolation over the sorted group on both engines (identical IEEE
    * midpoint math). */
  def medianMode(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.part(spark, dir)
      .groupBy(col("p_brand"), col("p_size"))
      .agg(count(lit(1)).as("cnt"))
    val mode = tf.groupBy(col("p_brand"))
      .agg(max_by(col("p_size"),
        col("cnt") * 1000000L - col("p_size")).as("mode_size"))
    Tables.part(spark, dir)
      .groupBy(col("p_brand"))
      .agg(
        expr("median(p_retailprice)").as("median_price"),
        count(lit(1)).as("n_parts"))
      .join(mode, "p_brand")
  }

  val medianModeSql: String =
    """WITH tf AS (
      |  SELECT p_brand, p_size, COUNT(*) AS cnt FROM part GROUP BY 1, 2),
      |m AS (
      |  SELECT p_brand, arg_max(p_size, cnt * 1000000 - p_size) AS mode_size
      |  FROM tf GROUP BY p_brand)
      |SELECT p_brand, median(p_retailprice) AS median_price,
      |       COUNT(*) AS n_parts, ANY_VALUE(mode_size) AS mode_size
      |FROM part JOIN m USING (p_brand)
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** Exact z-score outlier detection with NO floating point in the
    * decision: a value is an outlier iff |x − μ| > 3σ, tested as
    * (n·c − s)² > 9·(n·q − s²) over integer cents c, group count n, cents
    * sum s, and cents-square sum q — every quantity an exact integer
    * (DECIMAL(38,0) here, HUGEINT in the oracle), so the flagged set is
    * bit-identical across engines and shuffle orders. A float-σ comparison
    * would flip rows sitting exactly on the boundary depending on summation
    * order — the classic nondeterministic-pipeline bug. Two passes: a
    * sufficient-stats aggregate (map-side partial), then the stats broadcast
    * back for the per-row test — at 100 TB the stats relation is
    * group-cardinality-sized, so the second pass is a scan-speed broadcast
    * join, never a shuffle of the fact table. */
  def zscoreOutliers(spark: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val rows = Tables.events(spark, dir)
      .select(col("event_type"), (dec(col("value")) * 100).cast("long").as("c"))
    val stats = rows.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c").cast(d38) * col("c")).as("q"))
    val dev = col("n").cast(d38) * col("c") - col("s")
    val isOut = (dev * dev) >
      (lit(9).cast(d38) * (col("n").cast(d38) * col("q") - col("s").cast(d38) * col("s")))
    // kept: sf0.01-sf1 broadcast the per-row side without it; sf1 6/6 slower
    rows.join(broadcast(stats), Seq("event_type"))
      .withColumn("is_out", isOut.cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("is_out")).as("n_outliers"),
        max(col("s")).as("s_cents"))
      .select(col("event_type"), col("n_rows"), col("n_outliers"),
        (col("n_outliers").cast("double") / col("n_rows")).as("outlier_frac"),
        Q.avgCents2("s_cents", "n_rows").as("avg_value"))
  }

  val zscoreOutliersSql: String =
    """WITH r AS (SELECT event_type,
      |                  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |           FROM events),
      |st AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS s,
      |              SUM(CAST(c AS HUGEINT) * c) AS q
      |       FROM r GROUP BY 1),
      |o AS (SELECT r.event_type,
      |             CASE WHEN (CAST(n AS HUGEINT)*c - s)*(CAST(n AS HUGEINT)*c - s)
      |                       > 9*(CAST(n AS HUGEINT)*q - CAST(s AS HUGEINT)*s)
      |                  THEN 1 ELSE 0 END AS is_out,
      |             s, n
      |      FROM r JOIN st USING (event_type))
      |SELECT event_type, COUNT(*) AS n_rows,
      |       CAST(SUM(is_out) AS BIGINT) AS n_outliers,
      |       CAST(SUM(is_out) AS DOUBLE) / COUNT(*) AS outlier_frac,
      |       CAST(SIGN(ANY_VALUE(s)) *
      |            ((2 * ABS(ANY_VALUE(s)) + COUNT(*)) // (2 * COUNT(*)))
      |            AS DOUBLE) / 100 AS avg_value
      |FROM o GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  private val StatsCols =
    Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

  /** ANALYZE-style TABLE STATISTICS: per-column null and distinct counts
    * (long form) — the inputs a cost-based optimizer's stats collection
    * gathers, expressed as one declared query. One pass computes every
    * per-column aggregate; the multiple exact COUNT(DISTINCT)s plan an
    * Expand (|cols|× row multiplication before partial aggregation), which
    * is the documented cost of exact ndv — at 100 TB a stats job swaps in
    * `approx_count_distinct` (HLL, single pass, no Expand) with the same
    * output shape. */
  def tableStats(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.customer(spark, dir)
    val aggs = count(lit(1)).as("n_rows") +: StatsCols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"), count_distinct(col(c)).as(s"nd_$c")))
    t.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(StatsCols.map(c =>
        struct(lit(c).as("column_name"), col("n_rows"),
          (col("n_rows") - col(s"nn_$c")).as("n_nulls"),
          col(s"nd_$c").as("n_distinct"))): _*)).as("s"))
      .select(col("s.column_name"), col("s.n_rows"),
        col("s.n_nulls"), col("s.n_distinct"))
  }

  val tableStatsSql: String = {
    val aggList = StatsCols.map(c =>
      s"COUNT($c) AS nn_$c, COUNT(DISTINCT $c) AS nd_$c").mkString(",\n         ")
    val rows = StatsCols.map(c =>
      s"""SELECT '$c' AS column_name, n_rows,
         |       n_rows - nn_$c AS n_nulls, nd_$c AS n_distinct FROM s""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH s AS (
       |  SELECT COUNT(*) AS n_rows,
       |         $aggList
       |  FROM customer)
       |$rows
       |ORDER BY column_name""".stripMargin
  }

  /** MERGE / UPSERT semantics (the lakehouse `MERGE INTO` contract) over a
    * plain star-schema dim, expressed as one FULL OUTER join: a delta batch
    * (every 3rd customer with a re-stated balance, including keys the base
    * has never seen) merged into a base snapshot (customers outside one
    * deterministic 1/7 slice) — matched keys take the delta's values
    * (`update`), delta-only keys append (`insert`), base-only keys carry
    * over (`keep`). The action tag makes the write-audit row counts a
    * by-product of the merge itself. At 100 TB the base is the big side:
    * store it bucketed on the merge key so the daily merge co-locates with
    * the (much smaller) shuffled delta instead of re-shuffling the
    * snapshot — the same bucketing lever BucketedJoinSpec demonstrates. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val base = cust.filter(col("c_custkey") % 7 =!= 6)
      .select(col("c_custkey").as("bk"), col("c_mktsegment").as("b_seg"),
        dec(col("c_acctbal")).as("b_bal"))
    val delta = cust.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("dk"), col("c_mktsegment").as("d_seg"),
        (dec(col("c_acctbal")) + dec(lit(100))).as("d_bal"))
    base.join(delta, col("bk") === col("dk"), "full_outer")
      .select(
        coalesce(col("bk"), col("dk")).as("c_custkey"),
        coalesce(col("d_seg"), col("b_seg")).as("c_mktsegment"),
        Q.dec2(coalesce(col("d_bal"), col("b_bal"))).as("acctbal"),
        when(col("bk").isNotNull && col("dk").isNotNull, lit("update"))
          .when(col("dk").isNotNull, lit("insert"))
          .otherwise(lit("keep")).as("action"))
  }

  val mergeUpsertSql: String =
    """WITH base AS (
      |  SELECT c_custkey AS bk, c_mktsegment AS b_seg,
      |         CAST(c_acctbal AS DECIMAL(18,2)) AS b_bal
      |  FROM customer WHERE c_custkey % 7 <> 6),
      |delta AS (
      |  SELECT c_custkey AS dk, c_mktsegment AS d_seg,
      |         CAST(c_acctbal AS DECIMAL(18,2)) + 100 AS d_bal
      |  FROM customer WHERE c_custkey % 3 = 0)
      |SELECT COALESCE(bk, dk) AS c_custkey,
      |       COALESCE(d_seg, b_seg) AS c_mktsegment,
      |       CAST(COALESCE(d_bal, b_bal) AS DOUBLE) AS acctbal,
      |       CASE WHEN bk IS NOT NULL AND dk IS NOT NULL THEN 'update'
      |            WHEN dk IS NOT NULL THEN 'insert'
      |            ELSE 'keep' END AS action
      |FROM base FULL OUTER JOIN delta ON bk = dk
      |ORDER BY c_custkey""".stripMargin

  /** Probe date for [[zoneMaps]]: 1997-01-01 as an epoch day. */
  private val ZoneProbeDay = 9862
  private val ZoneWidth = 4096

  /** Data-skipping ZONE MAPS: per-zone (l_orderkey ranges of [[ZoneWidth]])
    * min/max statistics over the sort-correlated ship-date column, plus the
    * pruning verdict for a probe predicate `l_shipdate ≥ 1997-01-01`. This
    * is the stats table a lakehouse keeps per file/row-group to skip I/O;
    * `scan_needed = false` zones are the files a 100 TB scan never opens.
    * Because TPC-H orderkeys correlate with order date, the zones are
    * naturally date-clustered — the query also reports how selective the
    * probe is (fraction of zones skipped is visible from the flag). */
  def zoneMaps(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
    Tables.lineitem(spark, dir)
      .select(expr(s"l_orderkey div $ZoneWidth").as("zone"), day.as("d"),
        col("l_extendedprice"))
      .groupBy(col("zone"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("d")).as("min_ship_day"), max(col("d")).as("max_ship_day"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .withColumn("scan_needed", col("max_ship_day") >= ZoneProbeDay)
  }

  val zoneMapsSql: String =
    s"""WITH z AS (SELECT l_orderkey // $ZoneWidth AS zone,
       |                 datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d,
       |                 l_extendedprice
       |          FROM lineitem)
       |SELECT zone, COUNT(*) AS n_rows,
       |       CAST(MIN(d) AS INTEGER) AS min_ship_day,
       |       CAST(MAX(d) AS INTEGER) AS max_ship_day,
       |       MIN(l_extendedprice) AS min_price,
       |       MAX(l_extendedprice) AS max_price,
       |       MAX(d) >= $ZoneProbeDay AS scan_needed
       |FROM z GROUP BY zone
       |ORDER BY zone""".stripMargin

  /** 20-bit key-normalization scale for [[zorderSkipping]]. */
  private val ZNorm = (1L << 20) - 1
  /** Probe band: a 1/16-width slice of normalized key space at midpoint. */
  private val ZProbeLo = 1L << 19
  private val ZProbeHi = (1L << 19) + (1L << 16) - 1

  /** Z-ORDER vs LINEAR data-layout skipping report — the decision evidence
    * for `OPTIMIZE ... ZORDER BY (a, b)`. Both keys are min/max-normalized
    * to a 20-bit scale (exact integer math; both engines floor on
    * non-negative operands), then every row is assigned a bucket (= a file
    * of the layout) two ways: by the Morton interleave
    * ([[graft.functions.ZValue]], high 8 bits of z) and by the leading key
    * alone (plain `ORDER BY a`). Per (layout, bucket): the (a, b) rectangle
    * the bucket spans and whether a mid-range probe band on EACH key could
    * skip it via min/max footer stats. The payoff reads directly off the
    * output: z-order buckets are small rectangles — most skip the b-probe —
    * while every linear bucket spans b's full width, so a b-filtered scan
    * reads 100% of the table. [[graft.sources.Layout.zorderWrite]] is the
    * writer that produces this layout physically (file-level pruning
    * spec-proven in ZOrderSpec); this query is its catalog-facing
    * effectiveness audit, one scan + one exchange at any scale.
    */
  def zorderSkipping(spark: SparkSession, dir: String): DataFrame = {
    val day = datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long")
    val base = Tables.orders(spark, dir)
      .select(col("o_custkey").cast("long").as("a"), day.as("b"))
    val stats = base.agg(min(col("a")).as("a_min"), max(col("a")).as("a_max"),
      min(col("b")).as("b_min"), max(col("b")).as("b_max"))
    base.crossJoin(stats)
      .select(
        expr(s"((a - a_min) * $ZNorm) div greatest(a_max - a_min, 1)").as("na"),
        expr(s"((b - b_min) * $ZNorm) div greatest(b_max - b_min, 1)").as("nb"))
      .withColumn("z", graft.sources.Layout.zvalue(col("na"), col("nb")))
      .select(col("na"), col("nb"), explode(array(
        struct(lit("zorder").as("layout"),
          expr("z div 4294967296").as("bucket")),
        struct(lit("linear").as("layout"),
          expr("na div 4096").as("bucket")))).as("lb"))
      .select(col("lb.layout").as("layout"), col("lb.bucket").as("bucket"),
        col("na"), col("nb"))
      .groupBy(col("layout"), col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("na")).as("a_lo"), max(col("na")).as("a_hi"),
        min(col("nb")).as("b_lo"), max(col("nb")).as("b_hi"))
      .withColumn("scan_a",
        !(col("a_hi") < ZProbeLo || col("a_lo") > ZProbeHi))
      .withColumn("scan_b",
        !(col("b_hi") < ZProbeLo || col("b_lo") > ZProbeHi))
  }

  val zorderSkippingSql: String =
    s"""WITH base AS (
       |  SELECT CAST(o_custkey AS BIGINT) AS a,
       |         CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
       |              AS BIGINT) AS b
       |  FROM orders),
       |stats AS (SELECT MIN(a) AS a_min, MAX(a) AS a_max,
       |                 MIN(b) AS b_min, MAX(b) AS b_max FROM base),
       |n AS (SELECT ((a - a_min) * $ZNorm) // GREATEST(a_max - a_min, 1) AS na,
       |             ((b - b_min) * $ZNorm) // GREATEST(b_max - b_min, 1) AS nb
       |      FROM base, stats),
       |nid AS (SELECT row_number() OVER () AS rid, na, nb FROM n),
       |zc AS (SELECT rid, na, nb,
       |              CAST(SUM((((na >> i) & 1) << (2*i))
       |                     + (((nb >> i) & 1) << (2*i + 1))) AS BIGINT) AS z
       |       FROM nid, UNNEST(range(0, 20)) AS u(i)
       |       GROUP BY rid, na, nb),
       |lays AS (
       |  SELECT 'zorder' AS layout, z // 4294967296 AS bucket, na, nb FROM zc
       |  UNION ALL
       |  SELECT 'linear' AS layout, na // 4096 AS bucket, na, nb FROM zc)
       |SELECT layout, bucket, COUNT(*) AS n_rows,
       |       MIN(na) AS a_lo, MAX(na) AS a_hi,
       |       MIN(nb) AS b_lo, MAX(nb) AS b_hi,
       |       NOT (MAX(na) < $ZProbeLo OR MIN(na) > $ZProbeHi) AS scan_a,
       |       NOT (MAX(nb) < $ZProbeLo OR MIN(nb) > $ZProbeHi) AS scan_b
       |FROM lays GROUP BY layout, bucket
       |ORDER BY layout, bucket""".stripMargin

  /** Anonymity threshold for [[kAnonymity]]. */
  private val AnonK = 5

  /** K-ANONYMITY audit — the data-governance gate a corpus passes before
    * release: group the population by its quasi-identifier tuple
    * (nation × market segment × account-balance band) and flag every
    * equivalence class smaller than k=[[AnonK]] — rows in those classes
    * are re-identifiable and must be suppressed or generalized. The
    * balance band is floor(bal/1000): identical IEEE division + floor in
    * both engines (never CAST(double*100 AS BIGINT) — Spark truncates,
    * DuckDB rounds). One map-side-combined aggregate over the population
    * + a broadcast dim join; the audit output is
    * equivalence-class-cardinality-sized at any corpus scale. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      .groupBy(col("n_name"), col("c_mktsegment"), col("bal_band"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("is_anonymous", col("n_rows") >= AnonK)

  val kAnonymitySql: String =
    s"""SELECT n_name, c_mktsegment,
       |       CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
       |       COUNT(*) AS n_rows,
       |       COUNT(*) >= $AnonK AS is_anonymous
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY 1, 2, 3
       |ORDER BY n_name, c_mktsegment, bal_band""".stripMargin

  /** Join-key SKEW DIAGNOSTICS: the distribution of per-key row counts for
    * a prospective join/aggregation key — the report an engineer (or an
    * advisor rule) reads before deciding between a plain shuffle join, a
    * broadcast, or salting. One row: key cardinality, total rows, the
    * worst key's count, exact p50/p90/p99 of the per-key count
    * distribution, and skew_ratio = max/mean (≈1 ⇒ uniform; ≫1 ⇒ salt).
    * The per-key count relation is key-cardinality-sized — at 100 TB this
    * diagnostic costs one map-side-combined aggregate over the fact table,
    * then quantiles over the (much smaller) counts relation. */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    // Percentiles over the counts relation use the same pinned-interpolation
    // formula as [[quantiles]] (exact integer index + remainder, identical
    // IEEE op order in both engines) — the built-ins' op orders diverge in
    // the last ulp once the interpolation fraction lands off a power of
    // two, which is data-dependent and therefore a wrong-at-scale hazard.
    // The single-partition window is deliberate: this relation is
    // key-cardinality-sized (documented above), not corpus-sized.
    val ranked = counts
      .withColumn("rn", row_number().over(Window.orderBy(col("cnt"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    ranked.agg(
        count(lit(1)).as("n_keys"), sum(col("cnt")).as("total_rows"),
        max(col("cnt")).as("max_cnt"),
        max(when(expr("rn - 1 = div(5*(n-1), 10)"), col("cnt"))).as("a50"),
        max(when(expr("rn - 1 = least(div(5*(n-1), 10) + 1, n - 1)"),
          col("cnt"))).as("b50"),
        max(expr("pmod(5*(n-1), 10)")).as("r50"),
        max(when(expr("rn - 1 = div(9*(n-1), 10)"), col("cnt"))).as("a90"),
        max(when(expr("rn - 1 = least(div(9*(n-1), 10) + 1, n - 1)"),
          col("cnt"))).as("b90"),
        max(expr("pmod(9*(n-1), 10)")).as("r90"),
        max(when(expr("rn - 1 = div(99*(n-1), 100)"), col("cnt"))).as("a99"),
        max(when(expr("rn - 1 = least(div(99*(n-1), 100) + 1, n - 1)"),
          col("cnt"))).as("b99"),
        max(expr("pmod(99*(n-1), 100)")).as("r99"))
      .select(lit("events.user_id").as("key_col"), col("n_keys"),
        col("total_rows"), col("max_cnt"),
        expr("cast(a50 as double) + (cast(r50 as double) / 10.0)" +
          " * cast(b50 - a50 as double)").as("p50_cnt"),
        expr("cast(a90 as double) + (cast(r90 as double) / 10.0)" +
          " * cast(b90 - a90 as double)").as("p90_cnt"),
        expr("cast(a99 as double) + (cast(r99 as double) / 100.0)" +
          " * cast(b99 - a99 as double)").as("p99_cnt"),
        ((col("max_cnt") * col("n_keys")).cast("double") / col("total_rows"))
          .as("skew_ratio"))
  }

  val skewReportSql: String =
    """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
      |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt) AS rn,
      |             COUNT(*) OVER () AS n
      |      FROM c),
      |g AS (SELECT
      |        MAX(CASE WHEN rn - 1 = (5*(n-1))//10 THEN cnt END) AS a50,
      |        MAX(CASE WHEN rn - 1 = LEAST((5*(n-1))//10 + 1, n - 1) THEN cnt END) AS b50,
      |        MAX((5*(n-1))%10) AS r50,
      |        MAX(CASE WHEN rn - 1 = (9*(n-1))//10 THEN cnt END) AS a90,
      |        MAX(CASE WHEN rn - 1 = LEAST((9*(n-1))//10 + 1, n - 1) THEN cnt END) AS b90,
      |        MAX((9*(n-1))%10) AS r90,
      |        MAX(CASE WHEN rn - 1 = (99*(n-1))//100 THEN cnt END) AS a99,
      |        MAX(CASE WHEN rn - 1 = LEAST((99*(n-1))//100 + 1, n - 1) THEN cnt END) AS b99,
      |        MAX((99*(n-1))%100) AS r99
      |      FROM r),
      |base AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS total_rows,
      |                MAX(cnt) AS max_cnt
      |         FROM c)
      |SELECT 'events.user_id' AS key_col, n_keys, total_rows, max_cnt,
      |       CAST(a50 AS DOUBLE) + (CAST(r50 AS DOUBLE) / 10.0) * CAST(b50 - a50 AS DOUBLE) AS p50_cnt,
      |       CAST(a90 AS DOUBLE) + (CAST(r90 AS DOUBLE) / 10.0) * CAST(b90 - a90 AS DOUBLE) AS p90_cnt,
      |       CAST(a99 AS DOUBLE) + (CAST(r99 AS DOUBLE) / 100.0) * CAST(b99 - a99 AS DOUBLE) AS p99_cnt,
      |       CAST(max_cnt * n_keys AS DOUBLE) / total_rows AS skew_ratio
      |FROM base, g""".stripMargin

  private val BloomBits = 65536L
  private val BloomK = 3
  private val BloomHotPrice = 450000.0

  /** BLOOM-FILTER JOIN PREFILTER, audited exactly: build a Bloom filter
    * over the hot build-side keys (high-value orders), probe every
    * lineitem order key through it, and report the filter's EXACT
    * confusion counts — the sketch a 100 TB join uses to drop probe rows
    * before they ever shuffle (Spark's own runtime row-level filtering is
    * this shape; here the filter is a first-class, cross-engine-checkable
    * relation). Layout: [[BloomBits]] bits packed 60 per BIGINT word
    * (never touching bit 63 — `1 << 63` wraps negative asymmetrically
    * across engines), k = [[BloomK]] probes per key from the shared
    * MD5-derived hash60 so both engines address identical bits. The
    * filter itself is ~1k words — broadcast-sized by construction, which
    * is the point: membership for millions of probe keys costs a
    * broadcast hash join against a KB-scale relation, no shuffle. The
    * output pins `n_false_negative = 0` (the Bloom guarantee) and the
    * exact false-positive rate in basis points against the measured fill
    * factor. */
  def bloomProbe(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.hash60
    def probeBits(keyed: DataFrame): DataFrame = keyed
      .select(col("key"), explode(expr(s"sequence(0, ${BloomK - 1})")).as("i"))
      .select(col("key"),
        pmod(hash60(concat(col("key").cast("string"), lit(":"), col("i"))),
          lit(BloomBits)).as("bit"))
      .select(col("key"), expr("bit div 60").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 60 AS INT))").as("mask"))
    val build = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > BloomHotPrice)
      .select(col("o_orderkey").as("key")).distinct()
    val bloom = probeBits(build)
      .groupBy(col("word_idx")).agg(expr("bit_or(mask)").as("word"))
    val probes = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("key")).distinct()
    probeBits(probes)
      .join(bloom, Seq("word_idx"), "left")
      .groupBy(col("key"))
      .agg(min(when(col("word").isNotNull &&
        (col("word").bitwiseAND(col("mask")) =!= 0L), 1L).otherwise(0L))
        .as("all_hit"))
      .join(build.withColumn("one", lit(1L)), Seq("key"), "left")
      .select(col("all_hit"), coalesce(col("one"), lit(0L)).as("is_member"))
      .agg(
        count(lit(1)).as("n_probed"),
        sum(col("is_member")).as("n_members"),
        sum(col("all_hit")).as("n_bloom_positive"),
        sum(when(col("all_hit") === 1L && col("is_member") === 0L, 1L)
          .otherwise(0L)).as("n_false_positive"),
        sum(when(col("all_hit") === 0L && col("is_member") === 1L, 1L)
          .otherwise(0L)).as("n_false_negative"))
      .crossJoin(bloom.agg(sum(expr("bit_count(word)")).as("bits_set")))
      .select(col("n_probed"), col("n_members"), col("n_bloom_positive"),
        col("n_false_positive"), col("n_false_negative"),
        // guard the all-probes-are-members edge: Spark's non-ANSI div
        // yields NULL on /0 while DuckDB's // raises — without the CASE the
        // engines diverge (null row vs oracle failure) the day the filter
        // is probed only by its own build keys
        expr("""case when n_probed = n_members then 0
                else (n_false_positive * 10000) div (n_probed - n_members)
                end""").as("fp_rate_bp"),
        col("bits_set"),
        expr(s"(bits_set * 10000) div $BloomBits").as("fill_bp"))
  }

  val bloomProbeSql: String = {
    import graft.functions.TextFns.hash60Sql
    val h = hash60Sql("CAST(key AS VARCHAR) || ':' || CAST(i AS VARCHAR)")
    s"""WITH build AS (SELECT DISTINCT o_orderkey AS key FROM orders
       |               WHERE o_totalprice > $BloomHotPrice),
       |bbits AS (SELECT $h % $BloomBits AS bit
       |          FROM build, UNNEST(range(0, $BloomK)) AS u(i)),
       |bloom AS (SELECT bit // 60 AS word_idx,
       |                 CAST(bit_or(CAST(1 AS BIGINT)
       |                   << CAST(bit % 60 AS INTEGER)) AS BIGINT) AS word
       |          FROM bbits GROUP BY 1),
       |probes AS (SELECT DISTINCT l_orderkey AS key FROM lineitem),
       |pr AS (SELECT key, $h % $BloomBits AS bit
       |       FROM probes, UNNEST(range(0, $BloomK)) AS u(i)),
       |pj AS (SELECT pr.key,
       |              CASE WHEN b.word IS NOT NULL
       |                        AND (b.word & (CAST(1 AS BIGINT)
       |                          << CAST(pr.bit % 60 AS INTEGER))) <> 0
       |                   THEN 1 ELSE 0 END AS hit
       |       FROM pr LEFT JOIN bloom b ON b.word_idx = pr.bit // 60),
       |ag AS (SELECT key, MIN(hit) AS all_hit FROM pj GROUP BY 1),
       |fl AS (SELECT a.all_hit,
       |              CASE WHEN b.key IS NULL THEN 0 ELSE 1 END AS is_member
       |       FROM ag a LEFT JOIN build b USING (key)),
       |s AS (SELECT COUNT(*) AS n_probed,
       |             CAST(SUM(is_member) AS BIGINT) AS n_members,
       |             CAST(SUM(all_hit) AS BIGINT) AS n_bloom_positive,
       |             CAST(SUM(CASE WHEN all_hit = 1 AND is_member = 0
       |                           THEN 1 ELSE 0 END) AS BIGINT)
       |               AS n_false_positive,
       |             CAST(SUM(CASE WHEN all_hit = 0 AND is_member = 1
       |                           THEN 1 ELSE 0 END) AS BIGINT)
       |               AS n_false_negative
       |      FROM fl),
       |bs AS (SELECT CAST(SUM(bit_count(word)) AS BIGINT) AS bits_set
       |       FROM bloom)
       |SELECT n_probed, n_members, n_bloom_positive, n_false_positive,
       |       n_false_negative,
       |       CASE WHEN n_probed = n_members THEN 0
       |            ELSE (n_false_positive * 10000) // (n_probed - n_members)
       |            END AS fp_rate_bp,
       |       bits_set,
       |       (bits_set * 10000) // $BloomBits AS fill_bp
       |FROM s, bs""".stripMargin
  }

  /** SNAPSHOT DRIFT AUDIT: the language mix of two corpus snapshots
    * (stand-in: the doc_id-parity halves — swap in yesterday's/today's
    * partition at deployment) compared per language with the
    * two-proportion χ² at 95%, rearranged to the same exact
    * DECIMAL(38,0)/HUGEINT inequality as the A/B readout
    * (`100·(k_a·n_b − k_b·n_a)²·n > 384·n_a·n_b·k·(n−k)`) — the drift
    * flag never puts a float on the decision boundary, so the audit is
    * bit-stable across engines and reruns. Shares are floor-division
    * basis points. One map-side-combined aggregate touches the corpus;
    * the test is arithmetic on the langs-sized relation with the totals
    * folded in as empty-frame windows. */
  def snapshotDrift(spark: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val k = Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("k_a"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("k_b"))
      .withColumn("n_a", expr("sum(k_a) over ()"))
      .withColumn("n_b", expr("sum(k_b) over ()"))
    val kanb = col("k_a").cast(d38) * col("n_b")
    val kbna = col("k_b").cast(d38) * col("n_a")
    val kk = col("k_a").cast(d38) + col("k_b")
    val n = col("n_a").cast(d38) + col("n_b")
    k.select(col("lang"), col("k_a"), col("k_b"),
      expr("(k_a * 10000) div n_a").as("share_a_bp"),
      expr("(k_b * 10000) div n_b").as("share_b_bp"),
      expr("(k_b * 10000) div n_b - (k_a * 10000) div n_a").as("delta_bp"),
      (lit(100).cast(d38) * (kanb - kbna) * (kanb - kbna) * n >
        lit(384).cast(d38) * col("n_a") * col("n_b") * kk * (n - kk))
        .as("drift"))
  }

  val snapshotDriftSql: String =
    """WITH k AS (SELECT lang,
      |                  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
      |                    AS BIGINT) AS k_a,
      |                  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
      |                    AS BIGINT) AS k_b
      |           FROM documents GROUP BY lang),
      |t AS (SELECT *, CAST(SUM(k_a) OVER () AS BIGINT) AS n_a,
      |             CAST(SUM(k_b) OVER () AS BIGINT) AS n_b
      |      FROM k)
      |SELECT lang, k_a, k_b,
      |       (k_a * 10000) // n_a AS share_a_bp,
      |       (k_b * 10000) // n_b AS share_b_bp,
      |       (k_b * 10000) // n_b - (k_a * 10000) // n_a AS delta_bp,
      |       100 * (CAST(k_a AS HUGEINT)*n_b - CAST(k_b AS HUGEINT)*n_a)
      |           * (CAST(k_a AS HUGEINT)*n_b - CAST(k_b AS HUGEINT)*n_a)
      |           * (CAST(n_a AS HUGEINT) + n_b)
      |         > 384 * CAST(n_a AS HUGEINT) * n_b
      |             * (CAST(k_a AS HUGEINT) + k_b)
      |             * (CAST(n_a AS HUGEINT) + n_b - k_a - k_b)
      |         AS drift
      |FROM t
      |ORDER BY lang""".stripMargin

  val all: Seq[Q] = Seq(
    Q("meta_snapshot_drift", snapshotDrift(_, _).orderBy("lang"),
      Some(snapshotDriftSql)),
    Q("rel_bloom_probe", bloomProbe(_, _).orderBy("n_probed"),
      Some(bloomProbeSql)),
    Q("rel_hll_union", hllUnion(_, _).orderBy("exact_users"), Some(hllUnionSql)),
    Q("rel_zscore_outliers", zscoreOutliers(_, _).orderBy("event_type"),
      Some(zscoreOutliersSql)),
    Q("rel_zone_maps", zoneMaps(_, _).orderBy("zone"), Some(zoneMapsSql)),
    Q("rel_zorder_skipping", zorderSkipping(_, _).orderBy("layout", "bucket"),
      Some(zorderSkippingSql)),
    Q("meta_kanonymity", kAnonymity(_, _).orderBy("n_name", "c_mktsegment", "bal_band"),
      Some(kAnonymitySql)),
    Q("rel_merge_upsert", mergeUpsert(_, _).orderBy("c_custkey"),
      Some(mergeUpsertSql)),
    Q("rel_incremental_agg", incrementalAgg(_, _).orderBy("o_orderstatus"),
      Some(incrementalAggSql)),
    Q("meta_skew_report", skewReport(_, _).orderBy("key_col"), Some(skewReportSql)),
    Q("meta_table_stats", tableStats(_, _).orderBy("column_name"),
      Some(tableStatsSql)),
    Q("rel_range_join", rangeJoin(_, _).orderBy("tier"), Some(rangeJoinSql)),
    Q("rel_skyline", skyline(_, _).orderBy("p_partkey"), Some(skylineSql)),
    Q("meta_gini_profile", giniProfile(_, _).orderBy("column_name"),
      Some(giniProfileSql)),
    Q("rel_salted_join", saltedJoin(_, _).orderBy("c_mktsegment"), Some(saltedJoinSql)),
    Q("rel_median_mode", medianMode(_, _).orderBy("p_brand"), Some(medianModeSql)),
    Q("rel_histogram", histogram(_, _).orderBy("event_type", "bin"),
      Some(histogramSql)),
    Q("rel_unpivot", unpivotMeasures(_, _).orderBy("p_partkey", "metric"),
      Some(unpivotMeasuresSql)),
    Q("rel_date_arithmetic", dateArithmetic(_, _).orderBy("ym"),
      Some(dateArithmeticSql)),
    Q("rel_corr_exact", corrExact(_, _).orderBy("l_returnflag"), Some(corrExactSql)),
    Q("rel_string_agg", stringAgg(_, _).orderBy("p_brand"), Some(stringAggSql)),
    Q("rel_partitioned_roundtrip", partitionedRoundtrip(_, _).orderBy("l_returnflag"),
      Some(partitionedRoundtripSql)),
    Q("rel_bucketed_roundtrip", bucketedRoundtrip(_, _).orderBy("l_returnflag"),
      Some(bucketedRoundtripSql)),
    Q("meta_ref_integrity", refIntegrity(_, _).orderBy("fk"),
      Some(refIntegritySql)),
    Q("rel_heavy_hitters", heavyHitters(_, _).orderBy("event_type"),
      Some(heavyHittersSql)),
    Q("rel_bitmap_distinct", bitmapDistinct(_, _).orderBy("event_type"),
      Some(bitmapDistinctSql)),
    Q("rel_set_ops", setOps(_, _).orderBy("user_id"), Some(setOpsSql)),
    Q("rel_set_ops_all", setOpsAll(_, _).orderBy("user_id"), Some(setOpsAllSql)),
    Q("rel_quantiles", quantiles(_, _).orderBy("event_type"), Some(quantilesSql)),
    Q("rel_approx_quantile", approxQuantile(_, _).orderBy("event_type"),
      Some(approxQuantileSql)),
    Q("rel_json_extract", jsonExtract(_, _).orderBy("event_type"), Some(jsonExtractSql)),
    Q("rel_pivot", pivotRevenue(_, _).orderBy("year", "month"), Some(pivotRevenueSql)),
    Q("rel_approx_distinct", approxDistinct(_, _).orderBy("event_type"),
      Some(approxDistinctSql)),
    Q("rel_salted_agg", saltedAgg(_, _).orderBy("event_type"), Some(saltedAggSql)),
    Q("rel_count_distinct", countDistinct(_, _).orderBy("event_type"),
      Some(countDistinctSql)),
    Q("rel_arg_max", argMax(_, _).orderBy("p_brand"), Some(argMaxSql)),
    Q("rel_scd2_dim", scd2(_, _).orderBy("s_suppkey", "version"), Some(scd2Sql)),
    Q("rel_pit_join", pitJoin(_, _).orderBy("o_orderkey"), Some(pitJoinSql)),
    Q("rel_reconcile", reconcile(_, _).orderBy("s_suppkey"), Some(reconcileSql)),
    Q("rel_grouping_sets", groupingSetsRevenue(_, _)
      .orderBy(col("gid"), col("channel").asc_nulls_first, col("region").asc_nulls_first),
      Some(groupingSetsRevenueSql)),
    Q("rel_rollup", rollupRevenue(_, _)
      .orderBy(col("channel").asc_nulls_first, col("region").asc_nulls_first),
      Some(rollupRevenueSql)),
    Q("rel_cube", cubeRevenue(_, _)
      .orderBy(col("channel").asc_nulls_first, col("region").asc_nulls_first),
      Some(cubeRevenueSql)),
    Q("rel_csv_roundtrip", csvRoundtrip(_, _).orderBy("p_partkey"), Some(csvRoundtripSql)),
    Q("rel_uri_stage_roundtrip", uriStageRoundtrip(_, _).orderBy("c_custkey"),
      Some(uriStageRoundtripSql)),
    Q("rel_csv_gzip_roundtrip", csvGzipRoundtrip(_, _).orderBy("s_suppkey"),
      Some(csvGzipRoundtripSql)),
    Q("rel_catalog_inventory", catalogInventory(_, _).orderBy("name"),
      Some(catalogInventorySql)),
    Q("rel_catalog_columns", catalogColumns(_, _).orderBy("name", "ordinal"),
      Some(catalogColumnsSql)))
}
