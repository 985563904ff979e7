package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming face of the ordered funnel
  * ([[graft.operators.EventTime.funnel]]): per-user
  * view → click-after-view → purchase-after-click, over an out-of-order
  * event stream.
  *
  * Strictly-ordered funnel semantics cannot be folded incrementally under
  * reordering — a view arriving after its click (in processing time) must
  * still gate that click (in event time). So the state is the standard
  * BUFFER-UNTIL-WATERMARK shape: events accumulate per user; when the
  * event-time timeout fires (watermark past last activity + the quiet
  * period), the SAME pure function the batch operator uses computes the
  * funnel from the complete buffer and the state is dropped. State is
  * bounded by each user's events within one quiet-period horizon — the
  * watermark, not stream length, bounds memory.
  */
object FunnelStream {

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, event_type: String) {
    def ts_us: Long = ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
  }
  final case class FunnelRow(
      user_id: Long, view_us: Long, click_us: Option[Long],
      purchase_us: Option[Long], stage: Int)

  /** Emit the funnel after 60 min of user inactivity (event time). */
  val QuietUs: Long = 60L * 60 * 1000 * 1000

  /** The pure funnel: first view, first click strictly after it, first
    * purchase strictly after that — identical gating to the batch SQL. */
  private[graft] def computeFunnel(
      userId: Long, events: Seq[(Long, String)]): Option[FunnelRow] = {
    val sorted = events.sortBy(_._1)
    sorted.collectFirst { case (t, "view") => t }.map { v =>
      val c = sorted.collectFirst { case (t, "click") if t > v => t }
      val p = c.flatMap(ct => sorted.collectFirst { case (t, "purchase") if t > ct => t })
      FunnelRow(userId, v, c, p, 1 + c.size + p.size)
    }
  }

  // parallel primitive arrays: the flat state shape the state-store
  // encoder handles without object-graph codegen (a Vector[(Long, String)]
  // buffer trips the product encoder)
  private[streaming] final case class Buffer(
      ts: Array[Long], kinds: Array[String], lastUs: Long)

  private def stateFn(
      userId: Long, events: Iterator[Ev],
      state: GroupState[Buffer]): Iterator[FunnelRow] = {
    if (state.hasTimedOut) {
      val b = state.get
      state.remove()
      computeFunnel(userId, b.ts.zip(b.kinds).toSeq).iterator
    } else {
      val incoming = events.map(e => (e.ts_us, e.event_type)).toVector
      val prev = state.getOption
        .map(b => b.ts.zip(b.kinds).toVector).getOrElse(Vector.empty)
      val all = prev ++ incoming
      val last = all.iterator.map(_._1).max
      state.update(Buffer(all.map(_._1).toArray, all.map(_._2).toArray, last))
      state.setTimeoutTimestamp(last / 1000L + QuietUs / 1000L)
      Iterator.empty
    }
  }

  /** Streaming funnel: one row per user with ≥1 view, emitted when the
    * watermark passes their last activity + [[QuietUs]]. */
  def funnel(events: Dataset[Ev])(implicit spark: SparkSession): Dataset[FunnelRow] = {
    import spark.implicits._
    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(stateFn)
  }

  /** Batch face over the same pure function (for parity specs against the
    * declared SQL-shaped operator). */
  def funnelBatch(events: Dataset[Ev])(implicit spark: SparkSession): Dataset[FunnelRow] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroups { (uid, evs) =>
        computeFunnel(uid, evs.map(e => (e.ts_us, e.event_type)).toSeq).iterator
      }
  }
}
