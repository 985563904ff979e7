package graft.streaming

import graft.Tables
import graft.operators.EventTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming face of the engine. The reference has no streaming
  * compute model (SURVEY §2.9 — its "streaming" is HTTP re-triggering of the
  * full batch), so this module is the extension-tier design: the same
  * DataFrame transforms as the batch tier (`EventTime.hourlyAgg`), bound to
  * `readStream` instead of `read` — write the logic once, run it either way.
  *
  * Scale posture: file-source streaming with `maxFilesPerTrigger` backpressure,
  * event-time watermarks bounding state, and windowed partial aggregation —
  * state per (window, event_type) group only, never per event.
  */
object EventStream {

  /** File-source stream of the events table (same pinned schema + ts
    * conversion as the batch reader). */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.normalizeEventTs(
      spark.readStream
        .schema(Tables.eventsReadSchema(spark, dir))
        .option("maxFilesPerTrigger", "1")
        .parquet(dir))

  /** Streaming tumbling-hour aggregation — the exact batch transform with a
    * watermark bounding late data and state size. Append-mode-capable. */
  def hourlyAgg(events: DataFrame): DataFrame =
    EventTime.hourlyAgg(events.withWatermark("ts", "2 hours"))

  /** Streaming EXACT dedup: first occurrence per (user_id, event_type),
    * every later arrival dropped no matter how late. Precision on state:
    * because the dedup key does NOT include the event-time column,
    * `dropDuplicates` keeps one state row per distinct key FOREVER — the
    * watermark here bounds downstream operators, not this state. That is
    * the correct trade when the key space is bounded (distinct
    * (user, event_type) pairs ≪ event count) and exactness is required;
    * when the key space grows with the stream, use
    * [[dedupStreamBounded]] (the streaming face of the dedup tier;
    * content dedup would key on a fingerprint column, exactly like
    * `Dedup.fingerprint`). */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicates("user_id", "event_type")

  /** Streaming BOUNDED-STATE dedup: `dropDuplicatesWithinWatermark`
    * guarantees suppression of duplicates that arrive within the 2-hour
    * watermark delay of the first occurrence and EVICTS each key's state
    * once the watermark passes it — state is O(keys active in the
    * horizon), not O(all keys ever seen). The documented trade: a
    * duplicate arriving after its key was evicted is re-admitted (emitted
    * again), so this is at-least-once dedup — exactly the contract a
    * 100 TB/day ingest dedup wants, where duplicates come from bounded
    * retry/redelivery windows and unbounded key state is the thing that
    * kills the job. StreamDedupSpec pins both halves: suppression inside
    * the horizon AND re-admission after eviction. */
  def dedupStreamBounded(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-stream interval join: the same click→purchase attribution as
    * the batch query (`EventTime.clickAttribution`), with watermarks on both
    * sides so join state is bounded — a click can only match purchases up
    * to one hour later, so clicks older than watermark−1h are evicted. */
  def attribution(events: DataFrame): DataFrame =
    EventTime.clickAttribution(events.withWatermark("ts", "2 hours"))

  /** Stream-static enrichment join: each event is annotated map-side from a
    * static dimension (user_id → customer attributes; the driver testdata's
    * user ids draw from the customer key space). The static side is a plain
    * batch DataFrame — re-read per micro-batch and broadcast by the planner
    * while under its size threshold, no streaming state at all, which is
    * why this is THE pattern for decorating a 100 TB/day event stream with
    * dimension attributes (state-free, watermark-free, scales with the dim
    * table only). Left join keeps events whose user has no dim row (NULL
    * attributes), mirroring the batch gold-layer convention. */
  def enriched(events: DataFrame, dim: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    events.join(
      dim.select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey")),
      events("user_id") === col("c_custkey"), "left")
      .select(events("event_id"), events("user_id"), events("event_type"),
        col("c_mktsegment").as("segment"), col("c_nationkey").as("nation_key"))
  }

  /** Streaming heavy hitters: the SAME Space-Saving sketch as the batch
    * `rel_heavy_hitters`, bound to a stream in complete mode. The sketch's
    * associative merge is precisely what makes it streaming-safe: each
    * micro-batch folds its rows into the k-counter state and merges with
    * the previous state, so memory is k counters TOTAL regardless of
    * stream length or key cardinality — the fixed-memory "top event types
    * right now" dashboard feed a 100 TB/day stream needs, where an exact
    * streaming groupBy-count would grow state with distinct keys. Counts
    * are exact (err = 0) while distinct keys ≤ k — the parity gate against
    * the batch exact aggregate. */
  def heavyHitters(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val spark = events.sparkSession
    import spark.implicits._
    val typed: org.apache.spark.sql.Dataset[String] =
      events.select(col("event_type")).as[String]
    typed.select(new graft.functions.SpaceSaving(16).toColumn).toDF("hh")
  }

  /** Run the streaming hourly aggregation over a static directory to
    * completion via the in-memory sink; returns the final result rows.
    * (Local harness for specs; production would use a real sink + trigger.)
    */
  def runToCompletion(spark: SparkSession, srcDir: String, queryName: String): Array[Row] = {
    val q = hourlyAgg(readEvents(spark, srcDir))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName).collect()
  }
}
