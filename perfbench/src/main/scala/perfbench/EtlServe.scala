package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** etl_serve: the reference's own use of the service. `graft.Serve` runs on
  * the benchmark's session, on loopback port 0, and two closed-loop clients
  * drive it over real HTTP for the measured window: one triggers the
  * medallion run again and again, the other reads `/sample-data`,
  * `/verify-results` and `/status` in an order permuted by the seed. */
object EtlServe {

  val Trigger = "/trigger-etl"
  val Reads: Seq[String] = Seq("/sample-data", "/verify-results", "/status")

  private val mapper = new ObjectMapper()

  final case class Req(id: Int, client: String, endpoint: String, sendNs: Long,
      recvNs: Long, code: Int, facts: Map[String, Any], error: Option[String],
      traced: Boolean)

  private def texts(n: JsonNode): Seq[String] =
    if (n == null) Nil else n.elements().asScala.map(_.asText).toSeq

  /** The parts of a response the output check needs. */
  private def facts(endpoint: String, body: String): Map[String, Any] = {
    val j = mapper.readTree(body)
    val status = Option(j.get("status")).map(_.asText).orNull
    val rest: Map[String, Any] = endpoint match {
      case Trigger => Json.obj(
        "layers_processed" -> texts(j.get("layers_processed")),
        "duration_sec" -> Option(j.get("duration_sec")).map(_.asDouble))
      case "/verify-results" => Json.obj("tables" -> Json.obj(
        Option(j.get("tables")).toSeq.flatMap(_.elements().asScala).map { t =>
          t.get("table").asText -> (if (t.get("present").asBoolean) t.get("rows").asLong else -1L)
        }: _*))
      case "/sample-data" => Json.obj("samples" -> Json.obj(
        Option(j.get("samples")).toSeq.flatMap(_.elements().asScala).map { t =>
          t.get("table").asText -> t.get("rows").size
        }: _*))
      case _ => Json.obj("declared_queries" ->
        Option(j.get("declared_queries")).map(_.asInt))
    }
    Json.obj("status" -> status) ++ rest
  }

  def run(ctx: Ctx): Map[String, Any] = {
    ctx.tag(null) // the server threads must not inherit a phase tag
    val t0 = System.nanoTime()
    val server = graft.Serve.start(ctx.spark, ctx.dir, 0)
    val t1 = System.nanoTime()
    ctx.tracer.span("serve", "serve.start", 0L, t0, t1)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val ids = new AtomicInteger(0)
    def call(client: String, endpoint: String): Req = {
      val id = ids.incrementAndGet()
      val b = HttpRequest.newBuilder(URI.create(base + endpoint)).timeout(Duration.ofSeconds(150))
      val req = (if (endpoint == Trigger) b.POST(HttpRequest.BodyPublishers.noBody()) else b.GET()).build()
      val traced = ctx.traced
      val s = System.nanoTime()
      val r =
        try {
          val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
          val e = System.nanoTime()
          Req(id, client, endpoint, s, e, resp.statusCode(), facts(endpoint, resp.body()), None,
            traced)
        } catch { case NonFatal(ex) =>
          Req(id, client, endpoint, s, System.nanoTime(), -1, Map.empty,
            Some(Queries.describe(ex)), traced)
        }
      ctx.tracer.span(s"r$id", "http" + endpoint, 0L, r.sendNs, r.recvNs)
      r
    }
    try {
      // set-up: one cold trigger, then one call to each read endpoint
      val setup = (Trigger +: Reads).map(call("setup", _))
      ctx.probe.foreach(_.drained(_.takeAll()))
      val gc0 = Jvm.gcMs()
      Jvm.resetHeapPeak()
      val start = System.nanoTime()
      val startEpoch = System.currentTimeMillis()
      val deadline = start + ctx.seconds * 1000000000L
      val done = new ConcurrentLinkedQueue[Req]()
      // a traced run traces quarters 1 and 2 of the window only
      val quarter = ctx.seconds * 250000000L
      val switcher = ctx.probe.map { _ =>
        val t = new Thread(() => (0 until 4).foreach { k =>
          ctx.tracing(ctx.tracedStretch(k))
          val until = start + (k + 1) * quarter
          while (System.nanoTime() < until)
            java.util.concurrent.locks.LockSupport.parkNanos(until - System.nanoTime())
        })
        t.start()
        t
      }
      val triggerer = new Thread(() =>
        while (System.nanoTime() < deadline) done.add(call("trigger", Trigger)))
      val reader = new Thread(() => {
        val rng = new scala.util.Random(ctx.seed)
        while (System.nanoTime() < deadline)
          rng.shuffle(Reads).foreach { ep =>
            if (System.nanoTime() < deadline) done.add(call("reader", ep))
          }
      })
      Seq(triggerer, reader).foreach(_.start())
      Seq(triggerer, reader).foreach(_.join())
      switcher.foreach(_.join())
      ctx.tracing(ctx.probe.isDefined)
      val end = System.nanoTime()
      val endEpoch = System.currentTimeMillis()
      val window = ctx.probe.map(_.drained { v =>
        val inWindow = v.sqlExecs.filter(e => e.startMs >= startEpoch && e.endMs >= 0 && e.endMs <= endEpoch)
        Json.obj("counters" -> v.takeAll().toJson,
          "sql_ms" -> inWindow.map(e => e.endMs - e.startMs).sum)
      })
      val reqs = done.asScala.toSeq.sortBy(_.sendNs)
      val measured = Json.obj("setup_s" -> (start - ctx.origin) / 1e9,
        "timed_s" -> (end - start) / 1e9,
        "setup_requests" -> setup.map(render(ctx, _)),
        "requests" -> reqs.map(render(ctx, _)),
        "window" -> window,
        "artifacts" -> Json.obj("n" -> graft.Artifacts.count, "build_s" -> graft.Artifacts.buildSeconds),
        "jvm" -> Json.obj("gc_ms" -> (Jvm.gcMs() - gc0), "heap_peak_mb" -> Jvm.heapPeakMb()))
      measured + ("pipeline_runs" -> pipelineRuns(ctx))
    } finally server.stop(0)
  }

  private def render(ctx: Ctx, r: Req): Map[String, Any] =
    Json.obj("id" -> r.id, "client" -> r.client, "endpoint" -> r.endpoint,
      "send_ms" -> ctx.ms(r.sendNs), "recv_ms" -> ctx.ms(r.recvNs), "code" -> r.code,
      "error" -> r.error, "traced" -> r.traced) ++ r.facts

  /** Runs of `Pipeline.run` made from outside the server after the window,
    * each one timed (traced runs only). */
  val PipelineReps = 5

  /** The `Pipeline` layer, timed by wrapping its public entry: per rep,
    * `Pipeline.run(spark, dir, Seq(layer))` for each medallion layer in order
    * (the layer's statements, then the count of its own tables), and then the
    * post-run inventory of a whole run, `spark.table(name).count()` over every
    * declared table, as `Pipeline.run` ends. */
  private def pipelineRuns(ctx: Ctx): Seq[Map[String, Any]] =
    if (!ctx.traced) Nil
    else {
      val layers = graft.Pipeline.defaultLayers()
      (0 until PipelineReps).flatMap { rep =>
        val runs = layers.map { layer =>
          val t0 = System.nanoTime()
          val r =
            try Right(graft.Pipeline.run(ctx.spark, ctx.dir, Seq(layer)))
            catch { case NonFatal(e) => Left(Queries.describe(e)) }
          val t1 = System.nanoTime()
          ctx.tracer.span(s"pipeline$rep", "pipeline.run/" + layer._1, 0L, t0, t1)
          Json.obj("rep" -> rep, "layer" -> layer._1, "ms" -> (t1 - t0) / 1e6,
            "status" -> r.fold(_ => "error", _.status), "error" -> r.left.toOption)
        }
        val t0 = System.nanoTime()
        val counted =
          try Right(layers.flatMap(_._2.map(_._1)).map(ctx.spark.table(_).count()))
          catch { case NonFatal(e) => Left(Queries.describe(e)) }
        val t1 = System.nanoTime()
        ctx.tracer.span(s"pipeline$rep", "pipeline.inventory", 0L, t0, t1)
        runs :+ Json.obj("rep" -> rep, "layer" -> "inventory", "ms" -> (t1 - t0) / 1e6,
          "status" -> (if (counted.isRight) "success" else "error"),
          "error" -> counted.left.toOption)
      }
    }
}
