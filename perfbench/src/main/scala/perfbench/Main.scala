package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Shared state of one benchmark run: the session, the tracer and, on a
  * traced run, the listener. */
final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
    val seconds: Int, val tracer: Tracer, val probe: Option[Probe], val origin: Long) {
  def ms(ns: Long): Double = (ns - origin) / 1e6
  def traced: Boolean = tracer.on

  /** On a traced run, switch tracing (spans and the listener) on or off for
    * the next measured stretch; returns whether it is on. */
  def tracing(on: Boolean): Boolean = probe.fold(false) { p =>
    if (on != tracer.on) {
      if (on) spark.sparkContext.addSparkListener(p) else spark.sparkContext.removeSparkListener(p)
      tracer.on = on
    }
    on
  }

  /** ABBA: stretches 1 and 2 of every 4 are traced, 0 and 3 not, so slow
    * drift of the host cancels out of the traced-untraced difference. */
  def tracedStretch(k: Int): Boolean = k % 4 == 1 || k % 4 == 2

  /** Charge the calling thread's next jobs to `t` (null clears); a no-op
    * when untraced. */
  def tag(t: String): Unit =
    if (traced) spark.sparkContext.setLocalProperty(Probe.PhaseKey, t)
}

/** JVM-wide counters read at the edges of the timed part. */
object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Command-line entry of the harness.
  *
  * {{{
  * perfbench.Main run --workload <suite|etl_serve> --seed <n>
  *     --seconds <s> --trace <0|1> --data <dir> --out <raw.json>
  *     [--names <file> --build <file>] [--spans <spans.jsonl>]
  * perfbench.Main expect --dump <verify dump dir> --names <file> --out <file>
  *     --provenance <how the dump was made and checked>
  * }}}
  *
  * `run` writes one raw JSON record (samples, counters and the run record);
  * `perfbench/run.py` turns it into metrics and checks it. */
object Main {

  /** The session settings of `graft.Bench`, plus scratch locations inside the
    * benchmark's work directory. */
  def session(work: Path): SparkSession = {
    val cpus = graft.Cpus.effectiveStr()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def flags(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def readNames(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  def main(args: Array[String]): Unit = {
    val origin = System.nanoTime()
    val f = flags(args.drop(1))
    args.headOption match {
      case Some("run") => run(f, origin)
      case Some("expect") => expect(f)
      case _ =>
        System.err.println("usage: perfbench.Main run|expect --flag value ...")
        sys.exit(2)
    }
  }

  private def run(f: Map[String, String], origin: Long): Unit = {
    val workload = f("workload")
    val out = Paths.get(f("out"))
    val work = out.toAbsolutePath.getParent
    val trace = f.getOrElse("trace", "0") == "1"
    val t0 = System.nanoTime()
    val spark = session(work)
    val t1 = System.nanoTime()
    val tracer = new Tracer(trace, origin)
    tracer.span("session", "session.start", 0L, t0, t1)
    val probe = if (trace) {
      val p = new Probe(spark.sparkContext)
      spark.sparkContext.addSparkListener(p)
      Some(p)
    } else None
    val ctx = new Ctx(spark, f("data"), f("seed").toLong, f("seconds").toInt, tracer, probe, origin)
    val body: Map[String, Any] = workload match {
      case "suite" => Queries.suite(ctx, readNames(f("names")), readNames(f("build")))
      case "etl_serve" => EtlServe.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    f.get("spans").foreach(p => tracer.write(Paths.get(p)))
    val rec = Json.obj(
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> trace,
      "jvm_start_to_main_ms" ->
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime -
          (System.nanoTime() - origin) / 1e6),
      "session_start_ms" -> (t1 - t0) / 1e6,
      "spans" -> tracer.size,
      "env" -> environment(spark)) ++ body
    Files.writeString(out, Json.render(rec) + "\n")
    spark.stop()
  }

  /** What the program ran under: the facts a reader needs to tell a slow
    * host or a drifted setting from a slow change. */
  private def environment(spark: SparkSession): Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Json.obj(
      "spark_version" -> spark.version,
      "java_version" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.runtime.version")}",
      "available_processors" -> Runtime.getRuntime.availableProcessors(),
      "cpus_effective" -> graft.Cpus.effective(),
      "cgroup_quota_cores" -> graft.Cpus.cgroupQuotaCores(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_args" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
      "master" -> spark.sparkContext.master,
      "session_conf" -> scala.collection.immutable.TreeMap(spark.conf.getAll.toSeq: _*))
  }

  /** Expected row counts and digests from a `graft.Verify` dump (one parquet
    * directory per query), plus each query's output schema, written as
    * `{"provenance": <--provenance>, "queries": {name: {...}}}`, the form
    * `perfbench/run.py` reads. */
  private def expect(f: Map[String, String]): Unit = {
    val spark = session(Paths.get(f("out")).toAbsolutePath.getParent)
    val entries = readNames(f("names")).map { name =>
      val df = spark.read.parquet(s"${f("dump")}/$name")
      val (rows, digest) = Digest.of(df)
      name -> Json.obj("rows" -> rows, "digest" -> digest, "schema" -> df.schema.simpleString)
    }
    Files.writeString(Paths.get(f("out")), Json.render(Json.obj(
      "provenance" -> f("provenance"), "queries" -> Json.obj(entries: _*))) + "\n")
    spark.stop()
  }
}

/** Order-independent content digest of a query result. */
object Digest {
  import org.apache.spark.sql.functions._

  /** (row count, digest): per row an xxhash64 over every column (renamed by
    * position, so any column name works); the digest is the sum of the low
    * 40 bits of the row hashes and their XOR, so row order cannot change it. */
  def of(df: DataFrame): (Long, String) = {
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = pos.select(xxhash64(pos.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFFFL)), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    (r.getLong(0), f"${r.getLong(1)}%x-${r.getLong(2)}%016x")
  }
}
