package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** The `suite` workload: declared queries called through
  * `graft.SparkEntry.queries`, in an order permuted by the seed. */
object Queries {

  type QueryFn = (SparkSession, String) => DataFrame

  private def shuffled(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names)

  def describe(e: Throwable): String =
    e.getClass.getName + ": " + Option(e.getMessage).getOrElse("").take(300)

  private def missing(name: String): Map[String, Any] =
    Json.obj("name" -> name, "ok" -> false, "error" -> "not in graft.SparkEntry.queries")

  /** Artifact-layer totals at the end of a workload. */
  private def artifacts(): Map[String, Any] = {
    val root = sys.env.get("SPARK_GRAFT_ARTIFACTS_DIR").map(Paths.get(_))
    val bytes = root.filter(Files.isDirectory(_)).map { r =>
      val s = Files.walk(r)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }.getOrElse(0L)
    Json.obj("n" -> graft.Artifacts.count, "build_s" -> graft.Artifacts.buildSeconds,
      "per_artifact_s" -> graft.Artifacts.perBuildSeconds, "bytes" -> bytes)
  }

  private def jvm(gc0: Long): Map[String, Any] =
    Json.obj("gc_ms" -> (Jvm.gcMs() - gc0), "heap_peak_mb" -> Jvm.heapPeakMb())

  /** Counters of one operation's phases, read after draining the bus. */
  private def counters(ctx: Ctx, i: Int, phases: Seq[String]): Map[String, Any] =
    ctx.probe.fold(Map.empty[String, Any]) { p =>
      p.drained { v =>
        val byPhase = phases.map(ph => ph -> v.take(s"$ph/$i"))
        // jobs no phase tag reached (none expected) are charged to the last phase
        val rest = v.take(Probe.Untagged)
        val withRest = byPhase.init :+ (byPhase.last._1 -> (byPhase.last._2 + rest))
        Json.obj(withRest.map { case (ph, c) => s"${ph}_counters" -> c.toJson }: _*)
      }
    }

  private def discardCounters(ctx: Ctx): Unit = ctx.probe.foreach(_.drained(_.takeAll()))

  /** Seconds one timed pass over the suite takes at the time of writing:
    * `--seconds` buys `seconds / PassSeconds` passes (at least one). The
    * count depends only on the argument, never on measured speed, so two
    * commits always run the same work. */
  val PassSeconds = 6

  /** suite: set-up executes each query once with the output check, which
    * also warms the JVM. The timed part then runs passes over the queries
    * (see [[PassSeconds]]): each query, from an empty cache, is constructed,
    * planned, and materialized row by row and column by column through the
    * `noop` sink. A traced run traces passes 1 and 2 of every 4 and leaves
    * the others untraced, then builds the whole index by constructing every
    * query in `build` (the Artifacts layer's figures). */
  def suite(ctx: Ctx, names: Seq[String], build: Seq[String]): Map[String, Any] = {
    val spark = ctx.spark
    val entry = graft.SparkEntry.queries
    val order = shuffled(names, ctx.seed)
    val checks = order.map { name =>
      spark.catalog.clearCache()
      entry.get(name).fold(missing(name)) { fn =>
        try {
          val df = fn(spark, ctx.dir)
          val (rows, digest) = Digest.of(df)
          Json.obj("name" -> name, "ok" -> true, "rows" -> rows, "digest" -> digest,
            "schema" -> df.schema.simpleString)
        } catch { case NonFatal(e) =>
          Json.obj("name" -> name, "ok" -> false, "error" -> describe(e))
        }
      }
    }
    val artifactsAtSetup = graft.Artifacts.count
    discardCounters(ctx)
    val gc0 = Jvm.gcMs()
    Jvm.resetHeapPeak()
    val timedStart = System.nanoTime()
    val passes = math.max(1, ctx.seconds / PassSeconds)
    val ops = (0 until passes).flatMap { pass =>
      val traced = ctx.tracing(ctx.tracedStretch(pass))
      order.zipWithIndex.map { case (name, i) =>
        spark.catalog.clearCache()
        val op = pass * order.size + i
        entry.get(name).fold(missing(name))(fn => timedQuery(ctx, name, op, fn)) ++
          Json.obj("pass" -> pass, "traced" -> traced)
      }
    }
    val timedEnd = System.nanoTime()
    ctx.tracing(ctx.probe.isDefined)
    val artifactsAfterTimed = graft.Artifacts.count
    val jvmStats = jvm(gc0)
    val indexBuild =
      if (ctx.traced) constructAll(ctx, shuffled(build, ctx.seed)) else Nil
    Json.obj("setup_s" -> (timedStart - ctx.origin) / 1e9,
      "timed_s" -> (timedEnd - timedStart) / 1e9,
      "order" -> order, "checks" -> checks, "ops" -> ops, "index_build" -> indexBuild,
      "artifacts_at_setup" -> artifactsAtSetup, "artifacts_after_timed" -> artifactsAfterTimed,
      "artifacts" -> artifacts(), "jvm" -> jvmStats)
  }

  private def timedQuery(ctx: Ctx, name: String, i: Int, fn: QueryFn): Map[String, Any] = {
    val spark = ctx.spark
    val art0 = graft.Artifacts.count
    val trace = s"q$i:$name"
    val t0 = System.nanoTime()
    var t1, t2 = t0
    val res: Map[String, Any] =
      try {
        ctx.tag(s"construct/$i")
        val df = fn(spark, ctx.dir)
        t1 = System.nanoTime()
        ctx.tag(s"plan/$i")
        df.queryExecution.executedPlan
        t2 = System.nanoTime()
        ctx.tag(s"exec/$i")
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        val phases = df.queryExecution.tracker.phases
        def phase(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        val root = ctx.tracer.nextId()
        ctx.tracer.record(root, trace, "query", 0L, t0, t3)
        ctx.tracer.span(trace, "construct", root, t0, t1)
        ctx.tracer.span(trace, "plan", root, t1, t2)
        ctx.tracer.span(trace, "exec", root, t2, t3)
        Json.obj("ok" -> true, "construct_ms" -> (t1 - t0) / 1e6, "plan_ms" -> (t2 - t1) / 1e6,
          "exec_ms" -> (t3 - t2) / 1e6, "wall_ms" -> (t3 - t0) / 1e6,
          "analysis_ms" -> phase("analysis"), "optimization_ms" -> phase("optimization"),
          "planning_ms" -> phase("planning"))
      } catch { case NonFatal(e) =>
        Json.obj("ok" -> false, "error" -> describe(e))
      } finally ctx.tag(null)
    val traced =
      if (!ctx.traced) Map.empty[String, Any]
      else counters(ctx, i, Seq("construct", "plan", "exec")) +
        ("persisted_rdds_after" -> spark.sparkContext.getPersistentRDDs.size)
    Json.obj("name" -> name) ++ res ++ traced +
      ("artifacts_built" -> (graft.Artifacts.count - art0))
  }

  /** Construct each query and execute none; on an empty artifact root the
    * artifacts are built inside these calls. */
  private def constructAll(ctx: Ctx, order: Seq[String]): Seq[Map[String, Any]] = {
    val entry = graft.SparkEntry.queries
    order.zipWithIndex.map { case (name, i) =>
      entry.get(name).fold(missing(name)) { fn =>
        val art0 = graft.Artifacts.count
        val build0 = graft.Artifacts.buildSeconds
        val t0 = System.nanoTime()
        val res: Map[String, Any] =
          try {
            ctx.tag(s"build/$i")
            val df = fn(ctx.spark, ctx.dir)
            val t1 = System.nanoTime()
            ctx.tracer.span(s"build$i:$name", "construct", 0L, t0, t1)
            Json.obj("ok" -> true, "wall_ms" -> (t1 - t0) / 1e6,
              "analysis_ms" -> df.queryExecution.tracker.phases.get("analysis")
                .map(_.durationMs.toDouble).getOrElse(0.0),
              "schema" -> df.schema.simpleString)
          } catch { case NonFatal(e) =>
            Json.obj("ok" -> false, "error" -> describe(e))
          } finally ctx.tag(null)
        val traced =
          if (!ctx.traced) Map.empty[String, Any] else counters(ctx, i, Seq("build"))
        Json.obj("name" -> name) ++ res ++ traced ++ Json.obj(
          "artifacts_built" -> (graft.Artifacts.count - art0),
          "artifact_build_s" -> (graft.Artifacts.buildSeconds - build0))
      }
    }
  }
}
