package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator — the Spark-native analog of the
  * reference's generator (reference `data_generator.py:1-376`: TPC-H-ish
  * star schema + an event stream + text/embedding corpora, fixed seed,
  * uploaded to the bucket). Used here to manufacture LARGER scale factors
  * than the driver ships (the sf1 sweep), with the same schemas, key
  * ranges, and value domains as `/root/testdata/sf*` (TESTDATA.md).
  *
  * Everything is a PURE HASH of (table tag, row id): no RNG state, no
  * shuffle, no driver-side loop — `spark.range` partitions generate
  * independently, which is what makes the same code able to write 100 TB
  * from a thousand executors. Two runs at any parallelism produce
  * byte-identical values.
  *
  * Usage: `runMain graft.GenData <sf> <outDir>`; writes one single-file
  * `<table>.parquet` per table (the driver's layout, which DuckDB's
  * `FROM 'x.parquet'` reads directly). events.ts is written as raw
  * EPOCH-NANOS int64 — the driver's files carry parquet TIMESTAMP(NANOS),
  * which Spark cannot write; `tools/make_sf.py` rewrites that one column's
  * logical type so the generated directory is layout-identical to the
  * driver's (graft.Tables reads either form through nanosAsLong).
  */
object GenData {

  private def h(tag: String, ids: Column*): Column =
    xxhash64((lit(tag) +: ids): _*)

  /** Uniform [0,1) as a pure hash of (tag, ids). */
  private def u(tag: String, ids: Column*): Column =
    pmod(h(tag, ids: _*), lit(1000000000L)).cast("double") / 1e9

  private def pickFrom(vals: Seq[String], tag: String, ids: Column*): Column =
    element_at(array(vals.map(lit): _*),
      pmod(h(tag, ids: _*), lit(vals.size)).cast("int") + 1)

  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val PAdjs = Seq("large", "small", "hot", "cold", "blue", "red", "old", "new")
  private val PNouns = Seq("ring", "bolt", "plate", "screw", "gear", "wheel", "pin", "cap")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Vocab = Seq(
    "stream", "filter", "big", "batch", "merge", "group", "a", "column",
    "line", "the", "small", "sort", "join", "agg", "window", "slow", "fast",
    "scan", "data", "hash", "part", "shuffle", "cache", "spill", "plan",
    "query", "row", "key", "map", "reduce", "disk")

  private def ids(spark: SparkSession, n: Long): DataFrame =
    spark.range(0L, n, 1L, math.max(1, spark.sparkContext.defaultParallelism)).toDF()

  def region(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name")
  }

  def nation(spark: SparkSession): DataFrame =
    ids(spark, 25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def customer(spark: SparkSession, n: Long): DataFrame =
    ids(spark, n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(h("cnat", col("id")), lit(25)).cast("int").as("c_nationkey"),
      round(u("cbal", col("id")) * 11000.0 - 1000.0, 2).as("c_acctbal"),
      pickFrom(Segments, "cseg", col("id")).as("c_mktsegment"))

  def supplier(spark: SparkSession, n: Long): DataFrame =
    ids(spark, n).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(h("snat", col("id")), lit(25)).cast("int").as("s_nationkey"),
      round(u("sbal", col("id")) * 11000.0 - 1000.0, 2).as("s_acctbal"))

  def part(spark: SparkSession, n: Long): DataFrame =
    ids(spark, n).select(
      col("id").as("p_partkey"),
      concat(pickFrom(PAdjs, "padj", col("id")), lit(" "),
        pickFrom(PNouns, "pnoun", col("id"))).as("p_name"),
      concat(lit("Brand#"), pmod(h("pbrand", col("id")), lit(25))).as("p_brand"),
      pickFrom(PTypes, "ptype", col("id")).as("p_type"),
      (pmod(h("psize", col("id")), lit(50)).cast("int") + 1).as("p_size"),
      round(lit(900.0) + u("pprice", col("id")) * 100.0, 2).as("p_retailprice"))

  /** Timestamps are written as parquet TIMESTAMP without UTC adjustment
    * (TimestampNTZ), matching the driver files' logical type — the DuckDB
    * side reads the files directly, so an isAdjustedToUTC=true annotation
    * would surface there as TIMESTAMPTZ and render differently. */
  private def orderDate(okey: Column): Column =
    to_timestamp(date_add(to_date(lit("1995-01-01")),
      pmod(h("odate", okey), lit(2400)).cast("int"))).cast("timestamp_ntz")

  def orders(spark: SparkSession, n: Long, nCust: Long): DataFrame =
    ids(spark, n).select(
      col("id").as("o_orderkey"),
      pmod(h("ocust", col("id")), lit(nCust)).as("o_custkey"),
      pickFrom(Seq("F", "O", "P"), "ostat", col("id")).as("o_orderstatus"),
      round(lit(1000.0) + u("oprice", col("id")) * 499000.0, 2).as("o_totalprice"),
      orderDate(col("id")).as("o_orderdate"),
      pickFrom(Priorities, "oprio", col("id")).as("o_orderpriority"))

  def lineitem(spark: SparkSession, nOrders: Long, nPart: Long, nSupp: Long): DataFrame = {
    // 1..7 lines per order (sum of two small uniforms, mean 4 — the
    // driver's per-order line-count shape)
    val nl = lit(1) + pmod(h("nl1", col("id")), lit(4)).cast("int") +
      pmod(h("nl2", col("id")), lit(4)).cast("int")
    val o = col("l_orderkey")
    val ln = col("l_linenumber")
    val qty = (pmod(h("lqty", o, ln), lit(50)).cast("int") + 1).cast("double")
    ids(spark, nOrders)
      .select(col("id"), explode(sequence(lit(1), nl)).as("l_linenumber"))
      .select(
        col("id").as("l_orderkey"), col("l_linenumber"))
      .select(
        o,
        pmod(h("lpart", o, ln), lit(nPart)).as("l_partkey"),
        pmod(h("lsupp", o, ln), lit(nSupp)).as("l_suppkey"),
        ln,
        qty.as("l_quantity"),
        round(qty * (lit(900.0) + u("lprice", o, ln) * 1200.0), 2).as("l_extendedprice"),
        (pmod(h("ldisc", o, ln), lit(11)).cast("double") / 100.0).as("l_discount"),
        (pmod(h("ltax", o, ln), lit(9)).cast("double") / 100.0).as("l_tax"),
        pickFrom(Seq("A", "N", "R"), "lret", o, ln).as("l_returnflag"),
        pickFrom(Seq("F", "O"), "lstat", o, ln).as("l_linestatus"),
        to_timestamp(date_add(to_date(orderDate(o)),
          pmod(h("lship", o, ln), lit(95)).cast("int") + 1)).cast("timestamp_ntz")
          .as("l_shipdate"))
  }

  /** events.ts: strictly increasing epoch-NANOS over 30 days of 2024-01
    * (the driver's span), one row per event id — jitter stays inside the
    * per-id step so event_id order IS time order, as in the driver data. */
  def events(spark: SparkSession, n: Long, nUsers: Long): DataFrame = {
    val baseNs = 1704067200000000000L // 2024-01-01T00:00:00Z
    val spanNs = 30L * 24 * 3600 * 1000000000L
    val stepNs = spanNs / n
    ids(spark, n).select(
      col("id").as("event_id"),
      (lit(baseNs) + col("id") * stepNs +
        pmod(h("ejit", col("id")), lit(math.max(1L, stepNs * 9 / 10)))).as("ts"),
      pmod(h("euser", col("id")), lit(nUsers)).as("user_id"),
      pickFrom(EventTypes, "etype", col("id")).as("event_type"),
      round(least(lit(600.0), lit(-50.0) * log(lit(1.0) - u("eval", col("id")))), 2)
        .as("value"),
      format_string("{\"k\": %d}", pmod(h("ek", col("id")), lit(100))).as("props"))
  }

  /** Documents: 10–100 words drawn from the 31-word vocabulary by pure
    * hash. One doc in ten (past the first 50) is a NEAR-DUPLICATE: it
    * re-generates some earlier doc's exact word sequence from that doc's
    * seed, then substitutes 0–3 words — 0 substitutions yields exact
    * duplicates, 1–3 the near-dup pairs the dedup tier exists to find. */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    def dupAt(i: Column): Column = (pmod(h("dup", i), lit(10)) === 0) && (i >= 50)
    val isDup = dupAt(id)
    // the hash-picked base must itself be a NON-dup: a dup base's actual
    // text came from ITS OWN seed (with its own substitutions), so pairing
    // with it would be unrelated text — walk down (bounded unroll; each
    // step clears with p≈0.9, residual ~1e-4) until the base is original;
    // ids < 50 are never dups, so the walk always terminates in range
    val base = id - 1 - pmod(h("dbase", id), lit(50))
    val seed = when(isDup,
      (1 to 4).foldLeft(base)((c, _) =>
        when(dupAt(c), greatest(c - 1, lit(0L))).otherwise(c)))
      .otherwise(id)
    val nw = pmod(h("nw", seed), lit(91)).cast("int") + 10
    val nSubs = when(isDup, pmod(h("nsub", id), lit(4)).cast("int")).otherwise(lit(0))
    // Zipf-ish lexicon: 82% head words from the 31-word vocabulary, 18%
    // long-tail content tokens from a 300k hash space (df ≈ 1-2 at sf1).
    // Without the tail, shingle document frequency grows linearly with the
    // corpus and every shingle blows past the dedup tier's df cap at sf1 —
    // real text keeps a rare-token tail at any scale, so the generator must
    // too for the near-dup truth set to stay non-degenerate.
    def vocabAt(k: Column): Column =
      when(pmod(k, lit(100)) < 18,
        concat(lit("tok"), pmod(h("tail", k), lit(300000))))
        .otherwise(element_at(array(Vocab.map(lit): _*),
          pmod(k, lit(31)).cast("int") + 1))
    val words = transform(sequence(lit(1), nw), i => {
      val base = vocabAt(h("w", seed, i))
      // substitution positions: nSubs hash-picked slots get a re-hashed word
      (0 until 3).foldLeft(base) { (acc, j) =>
        when(lit(j) < nSubs &&
          i === pmod(h("spos", id, lit(j)), nw.cast("long")).cast("int") + 1,
          vocabAt(h("salt", id, i))).otherwise(acc)
      }
    })
    ids(spark, n).select(
      id.as("doc_id"),
      array_join(words, " ").as("text"),
      element_at(array(Seq("en", "en", "en", "en", "en", "en", "en", "en",
        "de", "de", "de", "es", "es", "es", "fr", "fr", "fr",
        "zh", "zh", "zh").map(lit): _*),
        pmod(h("lang", id), lit(20)).cast("int") + 1).as("lang"),
      concat(lit("src"), pmod(h("src", id), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Embeddings: 64-dim unit float vectors over MANY fine-grained
    * hash-seeded clusters (~20 members each), labels following clusters
    * 10-way. Center scale 0.5 vs noise scale 0.55 puts intra-cluster
    * cosine around 0.45 — a band straddling the 0.35 near-dup threshold —
    * while independent centers keep inter-cluster cosine near 0, so the
    * verified cosine-pair graph has a REALISTIC candidate density (average
    * degree ~ cluster size, not a near-clique). The previous shape — every
    * vector near one of 10 tight centroids (noise 0.35 on unit-scale
    * centers) — made ~90% of intra-centroid pairs verify: 19.2M pairs over
    * 20k vectors at sf1, average degree ~960, which stress-tests the
    * fixpoint but says nothing about ANN selectivity at scale. Labels
    * derive from the cluster id, so label-purity / centroid evaluations
    * stay meaningful (neighbors share a cluster, hence a label). */
  def embeddings(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val cluster = pmod(h("eclu", id), lit(math.max(1L, n / 20)))
    val label = pmod(h("elab", cluster), lit(10))
    val raw = transform(sequence(lit(0), lit(63)), d =>
      (u("ctr", cluster, d) * 2.0 - 1.0) * 0.5 +
        (u("nz", id, d) * 2.0 - 1.0) * 0.55)
    val norm = sqrt(aggregate(raw, lit(0.0), (a, x) => a + x * x))
    ids(spark, n).select(
      id.as("vec_id"),
      transform(raw, x => (x / norm).cast("float")).as("embedding"),
      label.cast("int").as("label"))
  }

  /** All tables at scale factor `sf` (sf=1 → 150k customers / 1.5M orders /
    * ~6M lineitems / 1M events / 50k docs / 20k embeddings — 10× the
    * driver's sf0.1 counts). */
  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    def n(base: Long) = math.max(1L, (base * sf).toLong)
    val (nCust, nSupp, nPart, nOrders) =
      (n(150000), n(10000), n(200000), n(1500000))
    Seq(
      "region" -> region(spark),
      "nation" -> nation(spark),
      "customer" -> customer(spark, nCust),
      "supplier" -> supplier(spark, nSupp),
      "part" -> part(spark, nPart),
      "orders" -> orders(spark, nOrders, nCust),
      "lineitem" -> lineitem(spark, nOrders, nPart, nSupp),
      "events" -> events(spark, n(1000000), n(15000)),
      // the driver floors the corpora at 500 rows (sf0.001 and sf0.01 both
      // carry 500 docs/embeddings) so the text/ANN tiers stay non-trivial
      "documents" -> documents(spark, math.max(500L, n(50000))),
      "embeddings" -> embeddings(spark, math.max(500L, n(20000))))
  }

  /** Write each table as a single `<name>.parquet` FILE (the driver's
    * layout): single-file coalesce into a scratch dir, then move the part
    * file into place. Single-file is a sandbox-layout constraint, not the
    * scale path — a cluster run would drop the coalesce and write each
    * table as a directory. */
  def writeSf(spark: SparkSession, sf: Double, outDir: String,
      only: Option[Set[String]] = None, multiFile: Boolean = false): Unit = {
    val out = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(out)
    tables(spark, sf)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, df) =>
      if (multiFile) {
        // probe-scale corpora (10⁷+ rows): `coalesce(1)` COLLAPSES the
        // upstream generation into one task (it is not a shuffle), so the
        // single-file layout would generate 10⁷ × 64-dim hashes on one
        // core. Spark reads a directory named `<table>.parquet`
        // identically; only the DuckDB differential needs real single
        // files, and the probe corpora never meet the oracle.
        df.write.mode("overwrite")
          .option("parquet.block.size", (8 * 1024 * 1024).toString)
          .parquet(out.resolve(name + ".parquet").toString)
        println(s"wrote $name (multi-file)")
      } else {
      val scratch = out.resolve("_" + name)
      // SMALL ROW GROUPS (2 MB, not the 128 MB default): a single-file table
      // whose one row group spans the whole file reads back as ONE Spark
      // partition — every downstream scan, explode, and partial aggregate
      // then runs single-task (observed: a 9-minute spilling one-task hash
      // aggregate at sf1). Row groups are the intra-file parallelism unit;
      // 2 MB keeps even the ~8 MB corpus tables multi-split while a 110 MB
      // lineitem gets ~50.
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", (2 * 1024 * 1024).toString)
        .parquet(scratch.toString)
      import scala.jdk.CollectionConverters.IteratorHasAsScala
      import scala.util.Using
      // Using.resource: Files.list/walk streams hold a directory fd until
      // closed — unclosed, each table written leaked one
      val found = Using.resource(java.nio.file.Files.list(scratch)) { s =>
        s.iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet"))
      }.getOrElse(sys.error(s"no part file for $name"))
      java.nio.file.Files.move(found, out.resolve(name + ".parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // remove the scratch dir (success marker + crc files); collect before
      // the stream closes, deepest-first for the deletes
      Using.resource(java.nio.file.Files.walk(scratch))(_.iterator().asScala.toSeq)
        .reverseIterator
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      println(s"wrote $name")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.map(_.toDouble).getOrElse(1.0)
    val outDir = args.drop(1).headOption.getOrElse(s"localdata/sf$sf")
    // optional comma-separated table subset — e.g. "embeddings" for the
    // sf6/sf10 ANN-artifact scaling probes, where generating a 660 MB
    // lineitem nobody reads would dominate the run
    val only = args.drop(2).headOption.map(_.split(",").map(_.trim).toSet)
    val spark = Session.local()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.sparkContext.setLogLevel("WARN")
    writeSf(spark, sf, outDir, only,
      multiFile = sys.env.get("GRAFT_GEN_MULTIFILE").contains("1"))
    spark.stop()
  }
}
