package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming AS-OF ENRICHMENT WITH TTL — the stream form of the batch
  * `win_asof_tolerance` feature-store rule: each purchase is annotated with
  * the user's latest prior-or-equal click, but only if that click is at most
  * [[graft.operators.Windows.AsofToleranceUs]] old; staler clicks are
  * nulled, not substituted.
  *
  * State per user is ONE (click_us, click_id) pair — O(users), never
  * O(events) — and the event-time timeout evicts it once the watermark
  * passes click time + TTL. Eviction is semantics-preserving precisely
  * BECAUSE of the tolerance rule: any purchase that would have read an
  * evicted click is past the TTL and must emit NULL anyway, so bounded
  * state and correct output are the same policy. That equivalence is the
  * parity gate: the streamed result must equal the batch window
  * carry-forward + tolerance projection on the same events.
  *
  * Within a micro-batch the group's rows are sorted by (us, src, id) —
  * clicks before purchases at equal timestamps, matching the batch
  * operator's prior-or-equal convention and its max-id click dedup.
  */
object AsofStream {

  final case class Ev(
      event_id: Long, user_id: Long, ts: java.sql.Timestamp, event_type: String) {
    def ts_us: Long = ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
  }
  final case class Enriched(
      purchase_id: Long, user_id: Long, purchase_us: Long,
      asof_click_id: Option[Long], gap_us: Option[Long],
      within_tolerance: Boolean)

  private[streaming] final case class LastClick(us: Long, id: Long)

  private def tolUs: Long = graft.operators.Windows.AsofToleranceUs

  /** Fold a user's (sorted) events: clicks update the candidate state,
    * purchases read it through the TTL rule. */
  private[streaming] def foldEvents(
      events: Iterator[Ev], open: Option[LastClick]): (Seq[Enriched], Option[LastClick]) = {
    var last = open
    val out = scala.collection.mutable.ArrayBuffer.empty[Enriched]
    events.toSeq
      .sortBy(e => (e.ts_us, if (e.event_type == "click") 0 else 1, e.event_id))
      .foreach { e =>
        e.event_type match {
          case "click" =>
            last = Some(LastClick(e.ts_us, e.event_id))
          case "purchase" =>
            val fresh = last.filter(c => e.ts_us - c.us <= tolUs)
            out += Enriched(e.event_id, e.user_id, e.ts_us,
              fresh.map(_.id), fresh.map(c => e.ts_us - c.us), fresh.isDefined)
          case _ => ()
        }
      }
    (out.toSeq, last)
  }

  private def stateFn(
      userId: Long, events: Iterator[Ev],
      state: GroupState[LastClick]): Iterator[Enriched] = {
    if (state.hasTimedOut) {
      // the stored click is older than watermark - TTL: no future purchase
      // can be within tolerance of it, so dropping it cannot change output
      state.remove()
      Iterator.empty
    } else {
      val (out, last) = foldEvents(events, state.getOption)
      last match {
        case Some(c) =>
          state.update(c)
          state.setTimeoutTimestamp(c.us / 1000L + tolUs / 1000L)
        case None => ()
      }
      out.iterator
    }
  }

  /** Streaming as-of TTL enrichment over a typed event stream. */
  def enrich(events: Dataset[Ev])(implicit spark: SparkSession): Dataset[Enriched] = {
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(stateFn)
  }
}
