package graft

import org.apache.spark.GraftSpark
import org.apache.spark.sql.{DataFrame, DataFrameReader, GraftSql, SparkSession}
import org.apache.spark.sql.types.StructType
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal

/** Write-once materialized pipeline products ("index artifacts").
  *
  * The dedup / ANN tier is a DAG of expensive shared products — the shingle
  * inverted index, MinHash signatures, verified near-dup pairs, SRP band
  * tables, k-means centroids, PQ codes — each consumed by several declared
  * queries. Round 4 shared them through `persist()` + CacheManager
  * plan-matching, which does not hold under a 164-query session: entries
  * are evicted or fail to match, and consumers silently re-execute the
  * whole upstream pipeline (measured: `dedup_lsh_recall` at 5.84 s for what
  * should be two small joins).
  *
  * This object replaces that with the design a production pipeline uses at
  * 100 TB: each shared product is computed ONCE per (session, input
  * directory), written to parquet, and every consumer — including the same
  * query run twice — reads the materialized table. Reuse is then a property
  * of the filesystem, not of cache-eviction luck; a consumer's plan starts
  * at a parquet scan of the artifact instead of embedding the producer's
  * lineage. The scan carries the schema the build wrote ([[table]]), so
  * neither the first read nor any later one launches a schema-inference
  * job, and a build's own local checkpoints (a fixpoint's last generation)
  * are released once the artifact is written. On a real cluster these are
  * warehouse tables written by the index-build stage and read by every
  * serving / evaluation query (the reference's own medallion layering
  * does exactly this between bronze→silver→gold; reference
  * `etl_medallion.py:143-199`).
  *
  * The artifact root is `SPARK_GRAFT_ARTIFACTS_DIR` when set — any
  * Hadoop-FS URI (`file://`, `hdfs://`, `s3a://`, `gs://` with the
  * connector), resolved through [[graft.sources.Stage.resolve]], owned by
  * one pipeline run — and otherwise a fresh per-JVM temp directory, so
  * unconfigured sessions always build from current inputs with no cross-run
  * staleness to reason about.
  *
  * Concurrency: builds coordinate through a per-key latch
  * (`ConcurrentHashMap` of futures) — the first caller of a key builds it
  * while callers of OTHER keys proceed in parallel, and a second caller of
  * the SAME key blocks only on that key's future. Nested builds (a build
  * requesting an upstream artifact, e.g. the df-capped shingle index
  * building the raw shingle index) are plain re-entrant calls on distinct
  * keys — no lock is held across a build. A build that fails clears its
  * latch so a later call can retry. A SELF-dependent key (a build
  * requesting itself) would deadlock on its own latch — that is a cycle in
  * the artifact DAG, a bug by construction.
  */
object Artifacts {

  /** Catalog database holding every bucketed artifact table — a dedicated
    * namespace, so the medallion/default catalog surface stays disjoint
    * from the index estate by construction. */
  private[graft] val ArtifactDb = "graft_artifacts"

  /** Read per call (not frozen at class init): the JVM property form exists
    * so a spec can point a fresh artifact at a URI root; deployments use the
    * env var. */
  private def configuredRoot: Option[String] =
    sys.props.get("graft.artifacts.dir")
      .orElse(sys.env.get("SPARK_GRAFT_ARTIFACTS_DIR"))
      .map(_.trim).filter(_.nonEmpty)

  private lazy val tempRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-artifacts-")
    // artifacts are per-JVM scratch: remove them when the process ends so
    // repeated sessions on one machine don't accumulate temp trees
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.jdk.CollectionConverters.IteratorHasAsScala
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverseIterator
          .foreach(f => try java.nio.file.Files.deleteIfExists(f) catch { case NonFatal(_) => () })
      } catch { case NonFatal(_) => () }))
    p
  }

  /** The active artifact root for this session (qualified URI when
    * configured; local temp path otherwise). */
  private[graft] def rootFor(spark: SparkSession): String =
    configuredRoot.fold(tempRoot.toString)(r => sources.Stage.resolve(spark, r))

  /** (normalized input dir)::(artifact name) -> latch completing with the
    * materialized path. */
  private val built = new ConcurrentHashMap[String, CompletableFuture[String]]()
  private val seq = new AtomicInteger(0)
  private val builds = new AtomicInteger(0)
  private val perBuildNanos = new ConcurrentHashMap[String, java.lang.Long]()

  /** The number of index artifacts ([[table]], [[bucketedTable]]) built so
    * far; files staged through [[path]] alone do not count. */
  def count: Int = builds.get()

  /** Total wall-clock seconds spent materializing artifacts — the
    * index-build cost a bench total must account for separately from
    * per-query read cost. */
  def buildSeconds: Double = perBuildSeconds.values.sum

  /** Per-artifact build seconds (artifact name -> wall-clock), so the
    * index-build line item is ATTRIBUTABLE: at sf1 the build stage is
    * minutes, and "which artifact costs what" is the first question any
    * optimization of it has to answer. Nested builds double-count their
    * parents' wall-clock by design (the parent's number is its end-to-end
    * cost including upstreams it had to trigger); [[buildSeconds]] has the
    * same property and remains the honest total. */
  def perBuildSeconds: Map[String, Double] = {
    import scala.jdk.CollectionConverters.ConcurrentMapHasAsScala
    perBuildNanos.asScala.map { case (k, v) => k -> v.toDouble / 1e9 }.toMap
  }

  /** Cache key: the `file:` scheme (either URI form) and the bare local
    * path of the SAME directory must coincide — the readers accept both
    * (StageSpec), and distinct keys would silently rebuild and double-store
    * every artifact for the session. Non-local URIs are qualified through
    * the Hadoop FS registry ([[sources.Stage.resolve]]) so two spellings of
    * the same remote dir (`hdfs://nn:8020/p` vs default-port `hdfs://nn/p`,
    * relative vs absolute against the default FS) share one key. */
  private[graft] def normKey(spark: SparkSession, dir: String, name: String): String = {
    val stripped = dir.replaceFirst("^file:(//)?", "")
    val norm =
      if (stripped.contains("://"))
        sources.Stage.resolve(spark, stripped).stripSuffix("/")
      else java.nio.file.Paths.get(stripped).toAbsolutePath.normalize.toString
    norm + "::" + name
  }

  /** The path `name` for input `dir` is materialized under, calling
    * `write` with a fresh path on first use only — the write-once primitive
    * for any file product (parquet artifacts, a roundtrip query's staging
    * files), so building the same query again never rewrites files an
    * earlier DataFrame still reads. */
  def path(spark: SparkSession, dir: String, name: String)
      (write: String => Unit): String =
    materialize(normKey(spark, dir, name)) { () =>
      val p = dataPath(spark, name)
      write(p)
      p
    }

  /** The schema of each artifact path: the one [[table]] wrote, or the one
    * the first read of a staged [[path]] inferred. */
  private val schemas = new ConcurrentHashMap[String, StructType]()

  /** Read artifact path `p` with `load`, passing it the schema `load`
    * inferred on the first read of `p`: the identical schema, without a
    * schema-inference job (parquet footers, CSV values, partition values)
    * each time a query is built. Safe because every artifact path is
    * written exactly once ([[path]]). */
  def read(spark: SparkSession, p: String)(load: DataFrameReader => DataFrame): DataFrame =
    load(spark.read.schema(schemas.computeIfAbsent(p, _ => load(spark.read).schema)))

  /** Return `name` for input `dir`, building + writing it on first use,
    * read through [[read]] with the schema it wrote, made nullable as every
    * file-source read makes it, so no read infers it again. Staged [[path]]
    * outputs (CSV, partitioned layouts) keep [[read]]'s inference: their
    * schemas really are inferred.
    *
    * Once written, the local checkpoints the build's own plan reads (the
    * last generation of a [[operators.Graph.fixpoint]] loop) are released:
    * nothing reads them again. A build reads only input files, other
    * artifacts and its own generations, never a table [[Pipeline]]
    * published, so no checkpoint it releases belongs to anyone else. */
  def table(spark: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame = {
    val p = path(spark, dir, name) { p =>
      timed(name) {
        val df = build
        df.write.mode("overwrite").parquet(p)
        schemas.put(p, GraftSql.asNullable(df.schema))
        GraftSpark.release(df)
      }
    }
    read(spark, p)(_.parquet(p))
  }

  /** Like [[table]], but materialized as a BUCKETED catalog table on
    * `bucketCols` — the warehouse form a 100 TB index-build stage writes:
    * every consumer join/aggregate on the bucket key starts from a
    * pre-partitioned scan with NO exchange on the artifact side (both
    * sides, for the self-joins candidate generation is made of). Bucket
    * count follows the building session's shuffle partitioning — the same
    * scale dial every other shuffle in the pipeline uses. The data files
    * live under the artifact root; the bucket spec lives in the session
    * catalog (shared across sessions of this JVM). Parquet `path` writes
    * cannot carry a bucket spec — that is why this variant goes through
    * `saveAsTable`. */
  def bucketedTable(spark: SparkSession, dir: String, name: String,
      bucketCols: Seq[String])(build: => DataFrame): DataFrame =
    spark.table(materialize(normKey(spark, dir, name)) { () => timed(name) {
      val p = dataPath(spark, name)
      // artifacts live in their OWN catalog database: a listing of the
      // default namespace never shows the index estate (ArtifactsSpec pins
      // non-leakage), and an operator can inspect it with a plain
      // `SHOW TABLES IN graft_artifacts`
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $ArtifactDb")
      val tbl = s"$ArtifactDb.graft_art_" + p.substring(p.lastIndexOf('/') + 1)
      val buckets = spark.sessionState.conf.numShufflePartitions
      // one shuffle to co-locate each bucket in one task => one file per
      // bucket, not one per (task × bucket)
      build.repartition(buckets,
          bucketCols.map(org.apache.spark.sql.functions.col): _*)
        .write.mode("overwrite").option("path", p)
        .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
        .saveAsTable(tbl)
      tbl
    }})

  /** Run one index-artifact build, counting it in [[count]] and its
    * wall-clock in [[buildSeconds]] / [[perBuildSeconds]] once it succeeds. */
  private def timed[T](name: String)(build: => T): T = {
    val t0 = System.nanoTime()
    val r = build
    perBuildNanos.merge(name, System.nanoTime() - t0, (a, b) => a + b)
    builds.incrementAndGet()
    r
  }

  private def dataPath(spark: SparkSession, name: String): String =
    rootFor(spark) + "/" + name + "_" + seq.getAndIncrement()

  /** The latch-coordinated write-once core: returns the handle (parquet
    * path or catalog table name) `key` is materialized under, running
    * `write` iff this caller is the first for the key. The monotonic
    * [[seq]] suffix in [[dataPath]] — not a 32-bit key hash — means two
    * distinct keys can never share a directory (a hash collision would
    * silently serve one input dir's artifact to another). */
  private def materialize(key: String)(write: () => String): String = {
    while (true) {
      val mine = new CompletableFuture[String]()
      val existing = built.putIfAbsent(key, mine)
      if (existing == null)
        try {
          val h = write()
          mine.complete(h)
          return h
        } catch { case e: Throwable =>
          // clear BEFORE completing: a waiter that observes the failure
          // must find the latch already gone so its retry can rebuild
          built.remove(key, mine)
          mine.completeExceptionally(e)
          throw e
        }
      else
        try return existing.get()
        catch { case _: java.util.concurrent.ExecutionException =>
          // the first caller failed and cleared its latch — loop back to
          // putIfAbsent and participate in a fresh build rather than
          // inheriting a failure that a retry might not reproduce (and
          // rather than surfacing it wrapped in ExecutionException, which
          // hides the real type from callers matching on the cause)
          ()
        }
    }
    throw new IllegalStateException("unreachable")
  }
}
