package graft.operators

import graft.{Artifacts, Q, Tables}
import graft.Q._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Storage-format edges beyond CSV (`Relational.csvRoundtrip`) and parquet
  * (every Verify dump): JSON-lines and ORC sink→source round-trips. The
  * reference's bronze tier loads from object-store files of whatever format
  * the producer emitted (`etl_medallion.py:90-99` loads CSV; the notebook
  * reads parquet); a complete engine speaks the other two first-class
  * Hadoop-ecosystem formats too. Both queries follow the round-trip
  * contract: sink → source must be lossless for the schema, so the oracle
  * is simply the original parquet table. Both sinks are staged write-once
  * per input through [[graft.Artifacts.path]], so building a query again
  * never rewrites files an earlier DataFrame still reads.
  */
object Formats {

  /** JSON-lines round-trip with a NESTED struct column: suppliers written as
    * newline-delimited JSON with a `contact` struct, read back with an
    * EXPLICIT schema (no inference pass — at 100 TB a schema-inference scan
    * is a full extra read of the corpus), FAILFAST so a malformed line
    * aborts the load rather than becoming silent NULLs, then flattened.
    * JSON is the interchange format of the LLM-data world (web scrapes,
    * API dumps land as JSONL); the nested struct exercises the schema
    * depth that flat CSV cannot represent. */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Artifacts.path(spark, dir, "rel_json_supplier") { p =>
      Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"),
          struct(col("s_nationkey"), col("s_acctbal")).as("contact"))
        .write.mode("overwrite").json(p)
    }
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("contact", StructType(Seq(
        StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))))))
    spark.read.schema(schema).option("mode", "FAILFAST").json(out)
      .select(col("s_suppkey"), col("s_name"),
        col("contact.s_nationkey").as("s_nationkey"),
        col("contact.s_acctbal").as("s_acctbal"))
  }

  val jsonRoundtripSql: String =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier
      |ORDER BY s_suppkey""".stripMargin

  /** ORC round-trip with predicate + column pruning at read-back: orders
    * written as ORC, read back filtered to one status and two columns,
    * aggregated per priority. ORC carries the same stripe-level min/max
    * indexes as parquet row groups — the filter reaches the ORC reader
    * (PushedFilters, asserted in FormatsSpec) so a selective read skips
    * stripes before any row decode. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Artifacts.path(spark, dir, "rel_orc_orders") { p =>
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
          col("o_totalprice"))
        .write.mode("overwrite").orc(p)
    }
    spark.read.orc(out)
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        dec2(sum(dec(col("o_totalprice")))).as("total_price"))
  }

  val orcRoundtripSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  val all: Seq[Q] = Seq(
    Q("rel_json_roundtrip", jsonRoundtrip(_, _).orderBy("s_suppkey"),
      Some(jsonRoundtripSql)),
    Q("rel_orc_roundtrip", orcRoundtrip(_, _).orderBy("o_orderpriority"),
      Some(orcRoundtripSql)))
}
