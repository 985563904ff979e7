package graft

import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** The HTTP serving analog (reference `main.py:25-177`), driven end-to-end
  * over a real socket: health, trigger (success AND the 500+suggestion
  * error contract), verification inventory, gold samples, and status. */
class ServeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val client = HttpClient.newHttpClient()

  private def get(base: String, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(base: String, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"$base$path"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())

  /** `/verify-results` rows by table. */
  private def servedCounts(body: String): Map[String, Long] =
    raw"""\{"table":"(\w+)","present":true,"rows":(\d+)\}""".r
      .findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toLong).toMap

  /** The oracle-green row count of every pipeline table: bronze_<t> is a
    * CTAS of source <t>, whose count meta_row_counts pins; silver/gold are
    * the declared queries of the same name. */
  private def expectedCounts(): Map[String, Long] = {
    val sourceCounts = SparkEntry.queries("meta_row_counts")(spark, TestSpark.Sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Pipeline.defaultLayers().flatMap(_._2.map(_._1)).map {
      case t if t.startsWith("bronze_") => t -> sourceCounts(t.stripPrefix("bronze_"))
      case t => t -> SparkEntry.queries(t)(spark, TestSpark.Sf0001).count()
    }.toMap
  }

  /** `/sample-data` rows by gold table, each row a JSON object. */
  private def sampledRows(body: String): Map[String, Seq[String]] =
    raw"""\{"table":"(gold_\w+)","rows":\[(.*?)\]\}""".r
      .findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).split(raw"(?<=\}),(?=\{)").filter(_.nonEmpty).toSeq)
      .toMap

  test("the five reference endpoints serve the contract") {
    val server = Serve.start(spark, TestSpark.Sf0001, 0)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val health = get(base, "/")
      assert(health.statusCode() == 200)
      Serve.Endpoints.foreach(e => assert(health.body().contains(e)))

      // GET on the trigger route is rejected like the Flask POST-only route
      assert(get(base, "/trigger-etl").statusCode() == 405)

      val trigger = post(base, "/trigger-etl")
      assert(trigger.statusCode() == 200, trigger.body().take(300))
      assert(trigger.body().contains("\"status\":\"success\""))
      assert(trigger.body().contains(
        "\"layers_processed\":[\"bronze\",\"silver\",\"gold\"]"))
      assert(trigger.body().contains("duration_sec"))

      val verify = get(base, "/verify-results")
      assert(verify.statusCode() == 200)
      Pipeline.defaultLayers().flatMap(_._2.map(_._1)).foreach { t =>
        assert(verify.body().contains(s"""{"table":"$t","present":true"""), t)
      }
      assert(!verify.body().contains("\"rows\":-1"))

      val sample = get(base, "/sample-data")
      assert(sample.statusCode() == 200)
      assert(sample.body().contains("gold_sales_analytics"))
      assert(sample.body().contains("total_amount") ||
        sample.body().contains("\"rows\":["), sample.body().take(300))

      val status = get(base, "/status")
      assert(status.statusCode() == 200)
      assert(status.body().contains("\"spark_version\""))
      assert(status.body().contains("\"declared_queries\""))
      // the served inventory IS the engine inventory — parse the queries
      // array back out and hold it equal to SparkEntry.queries.keySet, so
      // the endpoint can never lag a newly-landed operator
      val body = status.body()
      val arrStart = body.indexOf("\"queries\":[")
      assert(arrStart >= 0, "status payload lacks a queries array")
      val arrBody = body.substring(arrStart + "\"queries\":[".length,
        body.indexOf("]", arrStart))
      val served = arrBody.split(",").map(_.trim.stripPrefix("\"")
        .stripSuffix("\"")).toSet
      assert(served === SparkEntry.queries.keySet)

      assert(get(base, "/nope").statusCode() == 404)
    } finally server.stop(0)
  }

  test("endpoint payloads match the oracle-green relations they serve") {
    val server = Serve.start(spark, TestSpark.Sf0001, 0)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      assert(post(base, "/trigger-etl").statusCode() == 200)

      // /verify-results counts must equal the oracle-green row counts
      val served = servedCounts(get(base, "/verify-results").body())
      val expected = expectedCounts()
      assert(served == expected,
        s"only-served=${served.toSet -- expected.toSet} only-expected=${expected.toSet -- served.toSet}")

      // /sample-data rows must be rows OF the gold relations it samples
      // (first-rows semantics: exactly min(5, |table|) of them, each
      // byte-identical to a row of the declared oracle-green gold query)
      val tables = sampledRows(get(base, "/sample-data").body())
      assert(tables.keySet == Set(
        "gold_sales_analytics", "gold_product_metrics", "gold_sales_summary"))
      tables.foreach { case (name, rows) =>
        val full = SparkEntry.queries(name)(spark, TestSpark.Sf0001).toJSON.collect()
        assert(rows.length == math.min(5, full.length), s"$name: ${rows.length}")
        rows.foreach(r => assert(full.contains(r), s"$name: foreign row $r"))
      }
    } finally server.stop(0)
  }

  test("concurrent triggers and reads all succeed with the full payloads") {
    val server = Serve.start(spark, TestSpark.Sf0001, 0)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val clients = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      assert(post(base, "/trigger-etl").statusCode() == 200)
      val expected = expectedCounts()
      val sampleSizes = expected.collect {
        case (t, n) if t.startsWith("gold_") => t -> math.min(5L, n).toInt
      }
      // four clients, each sending the three Spark endpoints in its own order
      val calls = Seq("/trigger-etl", "/verify-results", "/sample-data")
      val pending = (0 until 4).flatMap { c =>
        (calls.drop(c % 3) ++ calls.take(c % 3)).map { path =>
          path -> clients.submit(new java.util.concurrent.Callable[HttpResponse[String]] {
            def call(): HttpResponse[String] =
              if (path == "/trigger-etl") post(base, path) else get(base, path)
          })
        }
      }
      pending.foreach { case (path, f) =>
        val r = f.get(300, java.util.concurrent.TimeUnit.SECONDS)
        assert(r.statusCode() == 200, s"$path: ${r.body().take(300)}")
        path match {
          case "/trigger-etl" => assert(r.body().contains("\"status\":\"success\""))
          case "/verify-results" => assert(servedCounts(r.body()) == expected)
          case "/sample-data" =>
            assert(sampledRows(r.body()).map { case (t, rows) => t -> rows.size } == sampleSizes)
        }
      }
    } finally { clients.shutdown(); server.stop(0) }
  }

  test("a failed layer returns 500 with the reference's suggestion contract") {
    val server = Serve.start(spark, "/nonexistent/path", 0)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val r = post(base, "/trigger-etl")
      assert(r.statusCode() == 500, r.body().take(300))
      assert(r.body().contains("\"status\":\"error\""))
      assert(r.body().contains("\"suggestion\""))
      assert(r.body().contains("\"layers_processed\":[]"))
    } finally server.stop(0)
  }
}
