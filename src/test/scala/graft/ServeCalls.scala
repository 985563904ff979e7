package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** HTTP calls to a running [[Serve]] and the parsing of its payloads, shared
  * by the specs that drive it over a real socket. */
object ServeCalls {
  private lazy val client = HttpClient.newHttpClient()

  private val NoLimit = Duration.ofMinutes(10)

  def get(base: String, path: String, timeout: Duration = NoLimit): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"$base$path")).timeout(timeout).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  def post(base: String, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"$base$path")).timeout(NoLimit)
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())

  /** `/verify-results` rows by table. */
  def servedCounts(body: String): Map[String, Long] =
    raw"""\{"table":"(\w+)","present":true,"rows":(\d+)\}""".r
      .findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toLong).toMap

  /** `/sample-data` rows by gold table, each row a JSON object. */
  def sampledRows(body: String): Map[String, Seq[String]] =
    raw"""\{"table":"(gold_\w+)","rows":\[(.*?)\]\}""".r
      .findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).split(raw"(?<=\}),(?=\{)").filter(_.nonEmpty).toSeq)
      .toMap
}
