package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema-pinned readers for the driver testdata tables
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md §B).
  *
  * Schemas are pinned explicitly instead of inferred so that (a) no
  * footer-inference job runs at plan time, and (b) a 100 TB deployment with
  * thousands of files never merge-infers schemas. This mirrors the
  * reference's silver-layer schema contract (reference
  * `etl_medallion.py:116-141` derives fixed silver schemas from SELECT
  * lists) while the bronze CSV edge stays inference-based
  * ([[operators.Relational.csvRoundtrip]], reference
  * `etl_medallion.py:90-99`).
  */
object Tables {

  val regionSchema = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** Logical events schema — what every consumer sees after
    * [[normalizeEventTs]]. The driver data has shipped `ts` under two
    * physical encodings across regenerations: parquet TIMESTAMP(NANOS)
    * (read as a raw nanos long via `spark.sql.legacy.parquet.nanosAsLong`,
    * SPARK-40819) and TIMESTAMP(MICROS, isAdjustedToUTC=false). The footer
    * is probed once per path ([[eventsReadSchema]]) and the pinned read
    * schema adapts, so a regeneration never silently corrupts timestamps
    * again (round-7/8 lesson: assuming NANOS against a MICROS file divided
    * every timestamp by 1000 and broke all 24 event-time queries).
    */
  val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val schemas: Map[String, StructType] = Map(
    "region" -> regionSchema,
    "nation" -> nationSchema,
    "customer" -> customerSchema,
    "supplier" -> supplierSchema,
    "part" -> partSchema,
    "orders" -> ordersSchema,
    "lineitem" -> lineitemSchema,
    "events" -> eventsSchema,
    "documents" -> documentsSchema,
    "embeddings" -> embeddingsSchema)

  /** All table names, in a stable order. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one testdata table with its pinned schema. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  /** Footer-probed physical `ts` type per events path. One tiny
    * footer-read job per path per JVM; cached so the 170-query suite never
    * repeats it. */
  private val eventsTsTypes =
    new java.util.concurrent.ConcurrentHashMap[String, DataType]()

  /** The pinned READ schema for an events parquet path/dir: the logical
    * [[eventsSchema]] with `ts` swapped to whatever the footer actually
    * stores (nanos INT64 → LongType, micros-ntz → TimestampNTZType, …).
    * Public so the streaming file source ([[graft.streaming.EventStream]])
    * can pin the same schema — `readStream` requires one up front. */
  def eventsReadSchema(spark: SparkSession, path: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ts = eventsTsTypes.computeIfAbsent(path,
      p => spark.read.parquet(p).schema("ts").dataType)
    StructType(eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = ts) else f))
  }

  private val rowCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The row count of one testdata table: one count job per table path per
    * JVM, memoized like the events footer probe. A count only picks a plan
    * shape (a row gate, a band geometry, a sample rate) or feeds a
    * write-once artifact of the same input, so the memo never disagrees
    * with an artifact already built from that input. */
  def rows(spark: SparkSession, dir: String, name: String): Long =
    rowCounts.computeIfAbsent(s"$dir/$name.parquet",
      _ => Long.box(read(spark, dir, name).count()))

  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    spark.read.schema(eventsReadSchema(spark, path)).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  /** Normalize whatever physical `ts` came off the scan to a micros
    * TimestampType: raw nanos long → `timestamp_micros(ts div 1000)`;
    * TIMESTAMP_NTZ → cast (value-preserving because every session pins
    * `spark.sql.session.timeZone=UTC`, matching the naive-UTC semantics
    * the DuckDB oracle applies). Shared by the batch reader and the
    * streaming source (`graft.streaming.EventStream`). */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    val ts = df.schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case TimestampType => col("ts")
      case _ => col("ts").cast(TimestampType)
    }
    df.withColumn("ts", ts)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(eventsRaw(spark, dir))
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
