package perfbench

import java.util.concurrent.atomic.AtomicLong

/** One span: a timed call into a layer. Spans of one query or request
  * share `trace`; `parent` is the id of the span that caused it (0 = root). */
final case class Span(id: Long, trace: String, name: String, parent: Long,
    startNs: Long, endNs: Long)

/** In-memory span recorder. When off, [[record]] does nothing, so the
  * untraced runs that give the end-to-end metrics pay no span cost; when on,
  * spans stay in memory and are written once, at the end of the run. A
  * traced run switches it off for some of its measured stretches, to
  * measure the tracing overhead in the same run. */
final class Tracer(@volatile var on: Boolean, origin: Long) {
  private val spans = new java.util.ArrayList[Span]()
  private val ids = new AtomicLong(0L)

  def nextId(): Long = if (on) ids.incrementAndGet() else 0L

  /** Record a span with a pre-allocated id (so children can name it). */
  def record(id: Long, trace: String, name: String, parent: Long,
      startNs: Long, endNs: Long): Unit =
    if (on) spans.synchronized(spans.add(Span(id, trace, name, parent, startNs, endNs)))

  def span(trace: String, name: String, parent: Long, startNs: Long, endNs: Long): Long = {
    val id = nextId()
    record(id, trace, name, parent, startNs, endNs)
    id
  }

  def size: Int = spans.synchronized(spans.size)

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.synchronized {
      import scala.jdk.CollectionConverters._
      spans.asScala.toSeq.map { s =>
        Json.render(Json.obj("id" -> s.id, "trace" -> s.trace, "name" -> s.name,
          "parent" -> s.parent, "start_ms" -> (s.startNs - origin) / 1e6,
          "end_ms" -> (s.endNs - origin) / 1e6))
      }
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
