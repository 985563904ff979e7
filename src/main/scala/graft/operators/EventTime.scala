package graft.operators

import graft.{Q, Tables}
import graft.Q._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time processing: tumbling-window aggregation over the events table.
  * [[hourlyAgg]] is a pure DataFrame→DataFrame transform shared verbatim by
  * the batch query below and the Structured Streaming pipeline
  * (`graft.streaming.EventStream`) — write the logic once, run it in either
  * mode.
  */
object EventTime {

  /** Tumbling 1-hour window per event_type: count + exact decimal sum.
    * Emits the window start as epoch seconds (a portable integer instead of
    * an engine-specific timestamp encoding).
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        dec2(sum(dec(col("value")))).as("total_value"))
      .select(
        col("window.start").cast("long").as("window_start_epoch"),
        col("event_type"), col("n_events"), col("total_value"))

  def hourly(spark: SparkSession, dir: String): DataFrame =
    hourlyAgg(Tables.events(spark, dir))

  val hourlySql: String =
    """SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
      |         AS window_start_epoch,
      |       event_type,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start_epoch, event_type""".stripMargin

  /** Interval (range) join: purchases attributed to the same user's clicks
    * within the preceding hour — equi-key on user plus a time-range
    * predicate (SURVEY §2.3 marks theta/range joins absent in the
    * reference). One shuffle on user_id; the range condition filters inside
    * the joined partitions. Shares its condition with the stream-stream
    * face (`EventStream.attribution`).
    */
  def clickAttribution(events: DataFrame, windowUs: Long = 3600L * 1000000): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") &&
        unix_micros(col("p_ts")) <= unix_micros(col("click_ts")) + windowUs)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
  }

  def attribution(spark: SparkSession, dir: String): DataFrame =
    clickAttribution(Tables.events(spark, dir))

  val attributionSql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |       epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)) AS gap_us
      |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
      |JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      | AND p.ts >= c.ts
      | AND epoch_us(CAST(p.ts AS TIMESTAMP)) <= epoch_us(CAST(c.ts AS TIMESTAMP)) + 3600000000
      |ORDER BY click_id, purchase_id""".stripMargin

  private val SessionGapUs = 1800L * 1000000 // 30 min

  /** Batch sessionization: gap-based sessions per user (new session when
    * > 30 min since the previous event), the lag+cumulative-sum formulation
    * — one shuffle on user_id, sorted scan, session stats from a second
    * aggregation on the derived key. This is the batch face of
    * `streaming.Sessionize` (flatMapGroupsWithState): same session
    * semantics, state-free because history is complete. */
  def sessions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(w) > SessionGapUs, 1)
          .when(lag(col("us"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_idx",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        (max(col("us")) - min(col("us"))).as("duration_us"),
        dec2(sum(dec(col("value")))).as("session_value"))
  }

  val sessionsSql: String =
    s"""WITH e AS (SELECT user_id, event_id, value,
       |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |           FROM events),
       |m AS (SELECT user_id, event_id, value, us,
       |             CASE WHEN us - LAG(us, 1) OVER w > $SessionGapUs THEN 1
       |                  WHEN LAG(us, 1) OVER w IS NULL THEN 1
       |                  ELSE 0 END AS new_session
       |      FROM e
       |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |s AS (SELECT user_id, event_id, value, us,
       |             SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |               AS session_idx
       |      FROM m)
       |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       |       COUNT(*) AS n_events,
       |       MIN(us) AS start_us,
       |       CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
       |FROM s
       |GROUP BY 1, 2
       |ORDER BY user_id, session_idx""".stripMargin

  /** Ordered funnel per user: first view → first click AFTER that view →
    * first purchase AFTER that click, with the stage reached (1–3). Each
    * stage is a conditional MIN gated on the previous stage's timestamp —
    * the strictly-ordered funnel semantics (a click before the first view
    * does not count), which a single groupBy of unconditioned MINs gets
    * wrong. Three aggregations, each one shuffle on user_id; the per-stage
    * relations shrink monotonically (funnel drop-off), so stages 2–3 join
    * against ever-smaller keys — broadcast at 100 TB once drop-off bites.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("ts_view"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
      .join(v, col("cu") === col("user_id") && col("cts") > col("ts_view"))
      .groupBy(col("cu")).agg(min(col("cts")).as("ts_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"))
      .join(c, col("pu") === col("cu") && col("pts") > col("ts_click"))
      .groupBy(col("pu")).agg(min(col("pts")).as("ts_purchase"))
    v.join(c, col("user_id") === col("cu"), "left")
      .join(p, col("user_id") === col("pu"), "left")
      .select(
        col("user_id"),
        unix_micros(col("ts_view")).as("view_us"),
        unix_micros(col("ts_click")).as("click_us"),
        unix_micros(col("ts_purchase")).as("purchase_us"),
        (lit(1) + col("ts_click").isNotNull.cast("int")
          + col("ts_purchase").isNotNull.cast("int")).as("stage"))
  }

  val funnelSql: String =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |v AS (SELECT user_id, MIN(ts) AS ts_view FROM e
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(e.ts) AS ts_click
      |      FROM e JOIN v ON e.user_id = v.user_id AND e.ts > v.ts_view
      |      WHERE e.event_type = 'click' GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(e.ts) AS ts_purchase
      |      FROM e JOIN c ON e.user_id = c.user_id AND e.ts > c.ts_click
      |      WHERE e.event_type = 'purchase' GROUP BY 1)
      |SELECT v.user_id,
      |       epoch_us(v.ts_view) AS view_us,
      |       epoch_us(c.ts_click) AS click_us,
      |       epoch_us(p.ts_purchase) AS purchase_us,
      |       CAST(1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
      |              + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS INTEGER) AS stage
      |FROM v
      |LEFT JOIN c ON c.user_id = v.user_id
      |LEFT JOIN p ON p.user_id = v.user_id
      |ORDER BY v.user_id""".stripMargin

  private val WeekUs = 604800000000L // 7 * 24 * 3600 * 1e6

  /** Cohort retention: users grouped by first-active week, counted in each
    * later week they return — the (cohort, offset) retention matrix every
    * product-analytics pipeline maintains. Week ids are integer-divided
    * epoch-microseconds (epochs are non-negative, so `div` == floor on both
    * engines). The (user, week) distinct makes the final COUNT(*) a
    * distinct-user count per cell without a count-distinct shuffle. Two
    * shuffles on user_id (distinct reuses the first's partitioning), one on
    * the cohort cell. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val wk = Tables.events(spark, dir)
      .select(col("user_id"),
        expr(s"unix_micros(ts) div CAST($WeekUs AS BIGINT)").as("wk"))
      .distinct()
    val cohort = wk.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    wk.join(cohort, "user_id")
      .withColumn("week_offset", col("wk") - col("cohort_wk"))
      .groupBy(col("cohort_wk"), col("week_offset"))
      .agg(count(lit(1)).as("n_active_users"))
  }

  val retentionSql: String =
    s"""WITH wk AS (SELECT DISTINCT user_id,
       |                   epoch_us(CAST(ts AS TIMESTAMP)) // $WeekUs AS wk
       |            FROM events),
       |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM wk GROUP BY 1)
       |SELECT c.cohort_wk, wk.wk - c.cohort_wk AS week_offset,
       |       COUNT(*) AS n_active_users
       |FROM wk JOIN c USING (user_id)
       |GROUP BY 1, 2
       |ORDER BY cohort_wk, week_offset""".stripMargin

  /** COHORT LTV: the revenue companion of [[retention]] — for each
    * (first-active-week cohort, week offset) cell, purchase revenue that
    * week, the running cumulative, and cumulative revenue per cohort
    * member in exact integer cents. Money flows through DECIMAL(18,2)
    * sums end to end (associative — shuffle/partial-agg order can't move
    * a cent), the cumulative is a per-cohort ordered window over the
    * cells-sized relation, and the per-user division is TRUNCATION TOWARD
    * ZERO on integer cents: the abs/sign split (`sign(x)·(|x|·100 div n)`)
    * makes both engines compute trunc even where their native operators
    * disagree on negatives (Spark `div` truncates, DuckDB `//` floors —
    * they agree only on non-negative operands, so a refund-heavy cohort
    * with negative cumulative revenue reports `-⌊|cum|/n⌋` cents, i.e.
    * rounded toward zero, in BOTH engines). Plan: one
    * user_id shuffle for cohorts, one (cohort, offset) shuffle for cells
    * — the window and joins after run on the matrix-sized relation, which
    * stays ~O(weeks²) no matter how large the corpus grows. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        expr(s"unix_micros(ts) div CAST($WeekUs AS BIGINT)").as("wk"),
        col("event_type"), col("value"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    val sizes = cohort.groupBy(col("cohort_wk")).agg(count(lit(1)).as("cohort_size"))
    val w = Window.partitionBy(col("cohort_wk")).orderBy(col("week_offset"))
    ev.filter(col("event_type") === "purchase")
      .join(cohort, "user_id")
      .withColumn("week_offset", col("wk") - col("cohort_wk"))
      .groupBy(col("cohort_wk"), col("week_offset"))
      .agg(
        count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_buyers"),
        sum(dec(col("value"))).as("rev_dec"))
      .withColumn("cum_dec", sum(col("rev_dec")).over(w))
      .join(sizes, "cohort_wk")
      .select(col("cohort_wk"), col("week_offset"), col("cohort_size"),
        col("n_buyers"), col("n_purchases"),
        dec2(col("rev_dec")).as("wk_revenue"),
        dec2(col("cum_dec")).as("cum_revenue"),
        expr("""case when cum_dec >= 0
                then div(cast(cum_dec * 100 as bigint), cohort_size)
                else -div(cast((-cum_dec) * 100 as bigint), cohort_size)
                end""").as("ltv_per_user_cents"))
  }

  val cohortLtvSql: String =
    s"""WITH e AS (SELECT user_id,
       |                  epoch_us(CAST(ts AS TIMESTAMP)) // $WeekUs AS wk,
       |                  event_type, value
       |           FROM events),
       |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1),
       |s AS (SELECT cohort_wk, COUNT(*) AS cohort_size FROM c GROUP BY 1),
       |p AS (SELECT c.cohort_wk, e.wk - c.cohort_wk AS week_offset,
       |             COUNT(*) AS n_purchases,
       |             COUNT(DISTINCT e.user_id) AS n_buyers,
       |             SUM(CAST(e.value AS DECIMAL(18,2))) AS rev_dec
       |      FROM e JOIN c USING (user_id)
       |      WHERE e.event_type = 'purchase'
       |      GROUP BY 1, 2),
       |win AS (SELECT p.*,
       |               SUM(rev_dec) OVER (PARTITION BY cohort_wk
       |                                  ORDER BY week_offset) AS cum_dec
       |        FROM p)
       |SELECT cohort_wk, week_offset, cohort_size, n_buyers, n_purchases,
       |       CAST(rev_dec AS DOUBLE) AS wk_revenue,
       |       CAST(cum_dec AS DOUBLE) AS cum_revenue,
       |       CASE WHEN cum_dec >= 0
       |            THEN CAST(cum_dec * 100 AS BIGINT) // cohort_size
       |            ELSE -(CAST((-cum_dec) * 100 AS BIGINT) // cohort_size)
       |            END AS ltv_per_user_cents
       |FROM win JOIN s USING (cohort_wk)
       |ORDER BY cohort_wk, week_offset""".stripMargin

  /** CUSUM alarm threshold, in multiples of the reference daily rate. */
  private val CusumH = 5L

  /** CUSUM DRIFT DETECTION over the daily event-count series — the
    * sequential change detector monitoring pipelines run on ingest
    * volume. The textbook recursion `S_n = max(0, S_{n-1} + x_n − k)` is
    * not window-expressible, but its closed form is:
    * `S_n = P_n − min(0, min_{j≤n} P_j)` where `P` is the prefix sum of
    * `x − k` — so the upward and downward statistics are ONE ordered
    * window pass each (running sum, running min/max) over the days-sized
    * relation. Everything is exact integers: the reference rate `k` is
    * the floor mean daily count, the alarm threshold is
    * [[CusumH]]·k of cumulative excess, and both engines walk identical
    * arithmetic — no float ever reaches the alarm boundary. The only
    * corpus-sized work is the per-day count aggregate. */
  def cusum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("k", expr("sum(n_events) over () div count(*) over ()"))
      .withColumn("p", sum(col("n_events") - col("k")).over(w))
      .withColumn("cusum_hi", col("p") - least(min(col("p")).over(w), lit(0L)))
      .withColumn("cusum_lo", greatest(max(col("p")).over(w), lit(0L)) - col("p"))
      .select(col("day"), col("n_events"), col("k"),
        col("cusum_hi"), col("cusum_lo"),
        (col("cusum_hi") > col("k") * CusumH).as("alarm_hi"),
        (col("cusum_lo") > col("k") * CusumH).as("alarm_lo"))
  }

  val cusumSql: String =
    s"""WITH d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
       |                  COUNT(*) AS n_events
       |           FROM events GROUP BY 1),
       |r AS (SELECT day, n_events,
       |             CAST(SUM(n_events) OVER () AS BIGINT)
       |               // COUNT(*) OVER () AS k
       |      FROM d),
       |p AS (SELECT *, CAST(SUM(n_events - k) OVER (ORDER BY day) AS BIGINT) AS p
       |      FROM r),
       |c AS (SELECT *,
       |             p - LEAST(CAST(MIN(p) OVER (ORDER BY day) AS BIGINT), 0)
       |               AS cusum_hi,
       |             GREATEST(CAST(MAX(p) OVER (ORDER BY day) AS BIGINT), 0) - p
       |               AS cusum_lo
       |      FROM p)
       |SELECT day, n_events, k, cusum_hi, cusum_lo,
       |       cusum_hi > k * $CusumH AS alarm_hi,
       |       cusum_lo > k * $CusumH AS alarm_lo
       |FROM c
       |ORDER BY day""".stripMargin

  private val DayUs = 86400000000L // 24 * 3600 * 1e6

  /** USER-LIFETIME SURVIVAL CURVE — the Kaplan-Meier-shaped complement of
    * [[retention]]: retention asks "of the users who arrived in week w, how
    * many came back at offset k"; survival asks "what fraction of ALL users
    * are still active k days after their first event". Lifetime = days
    * between a user's first and last event (both observed — no censoring in
    * a closed window); S(k) = |users with lifetime ≥ k| / |users|, emitted
    * at each observed lifetime value via a descending cumulative count.
    * Plan: one map-side-combined min/max aggregate per user (the only
    * data-sized shuffle), then windows over the tiny distinct-lifetime
    * relation; the fraction is int/int division, exact in both engines.
    * At 100 TB the per-user aggregate partial-combines on user_id and the
    * survival curve itself is at most a few thousand rows. */
  def survival(spark: SparkSession, dir: String): DataFrame = {
    val life = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(expr(s"(max(unix_micros(ts)) - min(unix_micros(ts))) div $DayUs")
        .as("lifetime_days"))
      .groupBy(col("lifetime_days"))
      .agg(count(lit(1)).as("n_users"))
    val wDesc = Window.orderBy(col("lifetime_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    life.select(col("lifetime_days"), col("n_users"),
        sum(col("n_users")).over(wDesc).as("n_surviving"),
        sum(col("n_users")).over(Window.partitionBy()).as("n_total"))
      .select(col("lifetime_days"), col("n_users"), col("n_surviving"),
        (col("n_surviving").cast("double") / col("n_total")).as("survival"))
  }

  val survivalSql: String =
    s"""WITH life AS (
       |  SELECT user_id,
       |         (MAX(epoch_us(CAST(ts AS TIMESTAMP)))
       |          - MIN(epoch_us(CAST(ts AS TIMESTAMP)))) // $DayUs
       |           AS lifetime_days
       |  FROM events GROUP BY user_id),
       |d AS (SELECT lifetime_days, COUNT(*) AS n_users
       |      FROM life GROUP BY lifetime_days)
       |SELECT lifetime_days, n_users,
       |       CAST(SUM(n_users) OVER (ORDER BY lifetime_days DESC
       |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_surviving,
       |       CAST(SUM(n_users) OVER (ORDER BY lifetime_days DESC
       |         ROWS UNBOUNDED PRECEDING) AS DOUBLE)
       |         / CAST(SUM(n_users) OVER () AS DOUBLE) AS survival
       |FROM d
       |ORDER BY lifetime_days""".stripMargin

  /** Multi-touch attribution over the click→purchase interval join: per
    * purchase, the FIRST and LAST click of the preceding hour plus the
    * click count — first-touch, last-touch, and the denominator a
    * position/linear model needs, in one aggregation over the same
    * interval join [[clickAttribution]] exposes pair-wise. min/max carry
    * (ts, id) pairs via packed structs, so ties resolve identically in
    * both engines (earliest click with smallest id, latest with largest).
    */
  def attributionModels(spark: SparkSession, dir: String): DataFrame = {
    val pairs = attribution(spark, dir) // user_id, click_id, purchase_id, gap_us
    pairs.groupBy(col("purchase_id"))
      .agg(
        count(lit(1)).as("n_clicks_window"),
        // largest gap = earliest click; break gap ties toward smaller id
        max(struct(col("gap_us"), (-col("click_id")).as("nid")))
          .as("first_pick"),
        // smallest gap = latest click; break ties toward larger id
        min(struct(col("gap_us"), (-col("click_id")).as("nid")))
          .as("last_pick"))
      .select(
        col("purchase_id"), col("n_clicks_window"),
        (-col("first_pick.nid")).as("first_click_id"),
        (-col("last_pick.nid")).as("last_click_id"))
  }

  val attributionModelsSql: String =
    """WITH pr AS (
      |  SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |         epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)) AS gap_us
      |  FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
      |  JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
      |    ON c.user_id = p.user_id
      |   AND p.ts >= c.ts
      |   AND epoch_us(CAST(p.ts AS TIMESTAMP)) <= epoch_us(CAST(c.ts AS TIMESTAMP)) + 3600000000)
      |, f AS (SELECT purchase_id, click_id AS first_click_id FROM (
      |         SELECT purchase_id, click_id,
      |                ROW_NUMBER() OVER (PARTITION BY purchase_id
      |                                   ORDER BY gap_us DESC, click_id ASC) AS rn
      |         FROM pr) WHERE rn = 1)
      |, l AS (SELECT purchase_id, click_id AS last_click_id FROM (
      |         SELECT purchase_id, click_id,
      |                ROW_NUMBER() OVER (PARTITION BY purchase_id
      |                                   ORDER BY gap_us ASC, click_id DESC) AS rn
      |         FROM pr) WHERE rn = 1)
      |, c AS (SELECT purchase_id, COUNT(*) AS n_clicks_window FROM pr GROUP BY 1)
      |SELECT c.purchase_id, c.n_clicks_window, f.first_click_id, l.last_click_id
      |FROM c
      |JOIN f ON f.purchase_id = c.purchase_id
      |JOIN l ON l.purchase_id = c.purchase_id
      |ORDER BY c.purchase_id""".stripMargin

  /** Sessionization via Spark's native `session_window` — the THIRD
    * formulation of the same 30-minute-gap semantics ([[sessions]] is
    * lag+cumsum windows; `streaming.Sessionize` is flatMapGroupsWithState),
    * all held to one oracle. session_window merges gap-overlapping
    * intervals inside a single aggregation (no analytic-window sort pass);
    * the session ordinal is recovered with one row_number per user. */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("duration_us"),
        dec2(sum(dec(col("value")))).as("session_value"))
    agg.select(
      col("user_id"),
      row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("start_us")))
        .cast("long").as("session_idx"),
      col("n_events"), col("start_us"), col("duration_us"), col("session_value"))
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * count (state → next-state) hops via lead() within each user's
    * (ts, event_id)-ordered stream, then the row-normalized transition
    * probability. The sequence-model summary of a clickstream (and the
    * same shape as a token-bigram LM over behavioral vocabularies). One
    * window shuffle on high-cardinality user_id + one tiny (from, to)
    * aggregate; p is int/int division — cross-engine exact. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val hops = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val wt = Window.partitionBy(col("from_type"))
    hops.select(col("from_type"), col("to_type"), col("n"),
      (col("n").cast("double") / sum(col("n")).over(wt)).as("p"))
  }

  val markovTransitionsSql: String =
    """WITH s AS (
      |  SELECT user_id, event_type,
      |         LEAD(event_type, 1) OVER (PARTITION BY user_id
      |                                   ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |c AS (
      |  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      |  FROM s WHERE next_type IS NOT NULL
      |  GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |       CAST(n AS DOUBLE)
      |         / CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p
      |FROM c
      |ORDER BY from_type, to_type""".stripMargin

  /** RFM (recency / frequency / monetary) customer scoring over purchase
    * events: per-user last-active day, purchase count, and exact-decimal
    * spend, bucketed 1-5 against the corpus's interpolated quintile
    * thresholds. Deliberately NOT a global ntile: an unpartitioned ntile
    * sorts the whole user table on one reducer. Here the 12 threshold
    * doubles are computed once as a one-row relation, and every user
    * scores map-side by comparison — the form that survives a billion users.
    * (Users tied exactly on a threshold score identically in both engines:
    * interpolated quantiles and `>` are IEEE-exact.) */
  def rfmScores(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val day = datediff(to_date(col("ts")), lit("1970-01-01"))
    val m = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        max(day).as("last_day"),
        count(lit(1)).as("freq"),
        dec2(sum(dec(col("value")))).as("monetary"))
    // Quintile thresholds (0.2/0.4/0.6/0.8 = k/5) with the PINNED
    // interpolation formula (exact integer index + remainder, identical
    // IEEE op order in both engines) — the engines' built-in interpolated
    // percentiles round differently on data-dependent inputs, and a
    // last-ulp threshold difference flips a user's score (round-7 sf1
    // lesson, see Relational.quantiles). The single-partition sorts run
    // over the user-cardinality metric relation, not the corpus.
    def thresholds(metric: String, pre: String): DataFrame = {
      val ranked = m.select(col(metric).as("v"))
        .withColumn("rn", row_number().over(Window.orderBy(col("v"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      val aggs = (1 to 4).flatMap { k =>
        Seq(
          max(when(expr(s"rn - 1 = div($k*(n-1), 5)"), col("v"))).as(s"a$k"),
          max(when(expr(s"rn - 1 = least(div($k*(n-1), 5) + 1, n - 1)"),
            col("v"))).as(s"b$k"),
          max(expr(s"pmod($k*(n-1), 5)")).as(s"r$k"))
      }
      ranked.agg(aggs.head, aggs.tail: _*)
        .select((1 to 4).map(k => expr(
          s"cast(a$k as double) + (cast(r$k as double) / 5.0)" +
            s" * cast(b$k - a$k as double)").as(s"$pre$k")): _*)
    }
    val th = thresholds("last_day", "rq")
      .crossJoin(thresholds("freq", "fq"))
      .crossJoin(thresholds("monetary", "mq"))
    def score(c: org.apache.spark.sql.Column, pre: String) =
      lit(1) + (c > col(s"${pre}1")).cast("int") + (c > col(s"${pre}2")).cast("int") +
        (c > col(s"${pre}3")).cast("int") + (c > col(s"${pre}4")).cast("int")
    m.crossJoin(th)
      .select(
        col("user_id"), col("last_day"), col("freq"), col("monetary"),
        score(col("last_day"), "rq").as("r_score"),
        score(col("freq"), "fq").as("f_score"),
        score(col("monetary"), "mq").as("m_score"))
      .withColumn("rfm",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
  }

  val rfmScoresSql: String = {
    def thSql(metric: String, pre: String): String = {
      val aggs = (1 to 4).map { k =>
        s"MAX(CASE WHEN rn - 1 = ($k*(n-1))//5 THEN v END) AS a$k,\n" +
          s"         MAX(CASE WHEN rn - 1 = LEAST(($k*(n-1))//5 + 1, n - 1) THEN v END) AS b$k,\n" +
          s"         MAX(($k*(n-1))%5) AS r$k"
      }.mkString(",\n         ")
      val qs = (1 to 4).map { k =>
        s"CAST(a$k AS DOUBLE) + (CAST(r$k AS DOUBLE) / 5.0)" +
          s" * CAST(b$k - a$k AS DOUBLE) AS $pre$k"
      }.mkString(",\n         ")
      s"""${pre}_r AS (
         |  SELECT $metric AS v, row_number() OVER (ORDER BY $metric) AS rn,
         |         COUNT(*) OVER () AS n
         |  FROM m),
         |${pre}_g AS (
         |  SELECT $aggs
         |  FROM ${pre}_r),
         |${pre}_th AS (
         |  SELECT $qs
         |  FROM ${pre}_g)""".stripMargin
    }
    def scoreSql(c: String, pre: String) =
      s"1 + CAST($c > ${pre}1 AS INTEGER) + CAST($c > ${pre}2 AS INTEGER)" +
        s" + CAST($c > ${pre}3 AS INTEGER) + CAST($c > ${pre}4 AS INTEGER)"
    s"""WITH m AS (
       |  SELECT user_id,
       |         CAST(MAX(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)))
       |              AS INTEGER) AS last_day,
       |         COUNT(*) AS freq,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
       |  FROM events WHERE event_type = 'purchase'
       |  GROUP BY user_id),
       |${thSql("last_day", "rq")},
       |${thSql("freq", "fq")},
       |${thSql("monetary", "mq")}
       |SELECT user_id, last_day, freq, monetary,
       |       ${scoreSql("last_day", "rq")} AS r_score,
       |       ${scoreSql("freq", "fq")} AS f_score,
       |       ${scoreSql("monetary", "mq")} AS m_score,
       |       (${scoreSql("last_day", "rq")}) * 100
       |         + (${scoreSql("freq", "fq")}) * 10
       |         + (${scoreSql("monetary", "mq")}) AS rfm
       |FROM m, rq_th, fq_th, mq_th
       |ORDER BY user_id""".stripMargin
  }

  /** INTER-ARRIVAL distribution: per event type, exact p50/p90 of the gap
    * between a user's consecutive events of that type — the recurrence
    * profile behind rate limiting, anomaly baselines, and retention
    * heuristics. One window pass over (user, type) streams; percentiles
    * run over the gap relation (events-sized, but the heavy lifting is a
    * single sort-within-partition). */
  def interArrival(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    // Pinned percentile interpolation (exact integer index/remainder,
    // identical IEEE op order in both engines) — the built-ins' op orders
    // diverge in the last ulp on data-dependent (a, b, fraction) combos;
    // see Relational.quantiles for the round-7 sf1 catch.
    val pw = Window.partitionBy(col("event_type")).orderBy(col("gap_us"))
    val cw = Window.partitionBy(col("event_type"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .select(col("event_type"), col("gap_us"))
      .withColumn("rn", row_number().over(pw))
      .withColumn("n", count(lit(1)).over(cw))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        max(when(expr("rn - 1 = div(5*(n-1), 10)"), col("gap_us"))).as("a50"),
        max(when(expr("rn - 1 = least(div(5*(n-1), 10) + 1, n - 1)"),
          col("gap_us"))).as("b50"),
        max(expr("pmod(5*(n-1), 10)")).as("r50"),
        max(when(expr("rn - 1 = div(9*(n-1), 10)"), col("gap_us"))).as("a90"),
        max(when(expr("rn - 1 = least(div(9*(n-1), 10) + 1, n - 1)"),
          col("gap_us"))).as("b90"),
        max(expr("pmod(9*(n-1), 10)")).as("r90"),
        max(col("gap_us")).as("max_gap_us"))
      .select(col("event_type"), col("n_gaps"),
        expr("cast(a50 as double) + (cast(r50 as double) / 10.0)" +
          " * cast(b50 - a50 as double)").as("p50_gap_us"),
        expr("cast(a90 as double) + (cast(r90 as double) / 10.0)" +
          " * cast(b90 - a90 as double)").as("p90_gap_us"),
        col("max_gap_us"))
  }

  val interArrivalSql: String =
    """WITH e AS (SELECT user_id, event_type, event_id,
      |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |           FROM events),
      |g AS (SELECT event_type,
      |             us - LAG(us, 1) OVER (PARTITION BY user_id, event_type
      |                                   ORDER BY us, event_id) AS gap_us
      |      FROM e),
      |r AS (SELECT event_type, gap_us,
      |             row_number() OVER (PARTITION BY event_type ORDER BY gap_us) AS rn,
      |             COUNT(*) OVER (PARTITION BY event_type) AS n
      |      FROM g WHERE gap_us IS NOT NULL),
      |agg AS (
      |  SELECT event_type, COUNT(*) AS n_gaps,
      |         MAX(CASE WHEN rn - 1 = (5*(n-1))//10 THEN gap_us END) AS a50,
      |         MAX(CASE WHEN rn - 1 = LEAST((5*(n-1))//10 + 1, n - 1) THEN gap_us END) AS b50,
      |         MAX((5*(n-1))%10) AS r50,
      |         MAX(CASE WHEN rn - 1 = (9*(n-1))//10 THEN gap_us END) AS a90,
      |         MAX(CASE WHEN rn - 1 = LEAST((9*(n-1))//10 + 1, n - 1) THEN gap_us END) AS b90,
      |         MAX((9*(n-1))%10) AS r90,
      |         MAX(gap_us) AS max_gap_us
      |  FROM r GROUP BY event_type)
      |SELECT event_type, n_gaps,
      |       CAST(a50 AS DOUBLE) + (CAST(r50 AS DOUBLE) / 10.0) * CAST(b50 - a50 AS DOUBLE) AS p50_gap_us,
      |       CAST(a90 AS DOUBLE) + (CAST(r90 AS DOUBLE) / 10.0) * CAST(b90 - a90 AS DOUBLE) AS p90_gap_us,
      |       max_gap_us
      |FROM agg
      |ORDER BY event_type""".stripMargin

  /** TIME-TO-CONVERT distribution: per user, the gap between the first
    * 'view' and the first later-or-equal 'purchase'; reported as one
    * corpus row — user counts plus exact interpolated p50/p90 of the gap.
    * First-touch timestamps are MIN aggregates (order-independent); the
    * percentile runs over the (user-cardinality-sized) converted set. The
    * canonical conversion-latency metric next to [[funnel]]'s stage
    * counts. */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firsts = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", unix_micros(col("ts")))).as("first_view"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("first_purchase"))
    val totals = firsts.agg(
      count(lit(1)).as("n_users"),
      count(when(col("first_view").isNotNull &&
        col("first_purchase") >= col("first_view"), 1)).as("n_converted"))
    // Pinned percentile interpolation over the (user-cardinality-sized)
    // converted-gap relation — see Relational.quantiles for why the
    // engines' built-ins cannot be trusted on the output boundary. The
    // single-partition window matches the relation's size class.
    val gaps = firsts
      .filter(col("first_view").isNotNull &&
        col("first_purchase") >= col("first_view"))
      .select((col("first_purchase") - col("first_view")).as("gap_us"))
      .withColumn("rn", row_number().over(Window.orderBy(col("gap_us"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
    val pct = gaps.agg(
        max(when(expr("rn - 1 = div(5*(n-1), 10)"), col("gap_us"))).as("a50"),
        max(when(expr("rn - 1 = least(div(5*(n-1), 10) + 1, n - 1)"),
          col("gap_us"))).as("b50"),
        max(expr("pmod(5*(n-1), 10)")).as("r50"),
        max(when(expr("rn - 1 = div(9*(n-1), 10)"), col("gap_us"))).as("a90"),
        max(when(expr("rn - 1 = least(div(9*(n-1), 10) + 1, n - 1)"),
          col("gap_us"))).as("b90"),
        max(expr("pmod(9*(n-1), 10)")).as("r90"))
      .select(
        expr("cast(a50 as double) + (cast(r50 as double) / 10.0)" +
          " * cast(b50 - a50 as double)").as("p50_gap_us"),
        expr("cast(a90 as double) + (cast(r90 as double) / 10.0)" +
          " * cast(b90 - a90 as double)").as("p90_gap_us"))
    totals.crossJoin(pct)
  }

  val timeToConvertSql: String =
    """WITH f AS (
      |  SELECT user_id,
      |         MIN(CASE WHEN event_type = 'view'
      |                  THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS first_view,
      |         MIN(CASE WHEN event_type = 'purchase'
      |                  THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS first_purchase
      |  FROM events WHERE event_type IN ('view', 'purchase')
      |  GROUP BY user_id),
      |t AS (
      |  SELECT COUNT(*) AS n_users,
      |         COUNT(CASE WHEN first_view IS NOT NULL
      |                         AND first_purchase >= first_view THEN 1 END)
      |           AS n_converted
      |  FROM f),
      |r AS (
      |  SELECT first_purchase - first_view AS gap_us,
      |         row_number() OVER (ORDER BY first_purchase - first_view) AS rn,
      |         COUNT(*) OVER () AS n
      |  FROM f
      |  WHERE first_view IS NOT NULL AND first_purchase >= first_view),
      |p AS (
      |  SELECT
      |    MAX(CASE WHEN rn - 1 = (5*(n-1))//10 THEN gap_us END) AS a50,
      |    MAX(CASE WHEN rn - 1 = LEAST((5*(n-1))//10 + 1, n - 1) THEN gap_us END) AS b50,
      |    MAX((5*(n-1))%10) AS r50,
      |    MAX(CASE WHEN rn - 1 = (9*(n-1))//10 THEN gap_us END) AS a90,
      |    MAX(CASE WHEN rn - 1 = LEAST((9*(n-1))//10 + 1, n - 1) THEN gap_us END) AS b90,
      |    MAX((9*(n-1))%10) AS r90
      |  FROM r)
      |SELECT n_users, n_converted,
      |       CAST(a50 AS DOUBLE) + (CAST(r50 AS DOUBLE) / 10.0) * CAST(b50 - a50 AS DOUBLE) AS p50_gap_us,
      |       CAST(a90 AS DOUBLE) + (CAST(r90 AS DOUBLE) / 10.0) * CAST(b90 - a90 AS DOUBLE) AS p90_gap_us
      |FROM t, p""".stripMargin

  /** PATH MINING over sessionized events: the top-10 session-opening
    * paths (first three event types, in order) with their session counts
    * and corpus share — the "how do sessions start" question behind
    * navigation/funnel design. Sessions come from the same 30-minute-gap
    * derivation as [[sessions]]; the ordered 3-prefix is folded with
    * MAX(CASE rn) pivots (order-independent aggregation — a positional
    * collect_list would depend on shuffle order), and `concat_ws` drops
    * the NULL slots of shorter sessions identically on both engines. The
    * path relation is path-cardinality-sized (≤ |types|³), so the final
    * global-share window runs on a trivial relation at any corpus size. */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val sess = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(w) > SessionGapUs, 1)
          .when(lag(col("us"), 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_idx",
        sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ws = Window.partitionBy(col("user_id"), col("session_idx"))
      .orderBy(col("us"), col("event_id"))
    val counts = sess
      .withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(concat_ws(">",
        max(when(col("rn") === 1, col("event_type"))),
        max(when(col("rn") === 2, col("event_type"))),
        max(when(col("rn") === 3, col("event_type")))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
    counts
      .withColumn("share",
        col("n_sessions").cast("double") /
          sum(col("n_sessions")).over(Window.partitionBy()))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(10)
  }

  val topPathsSql: String =
    s"""WITH e AS (SELECT user_id, event_id, event_type,
       |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |           FROM events),
       |m AS (SELECT user_id, event_id, event_type, us,
       |             CASE WHEN us - LAG(us, 1) OVER w > $SessionGapUs THEN 1
       |                  WHEN LAG(us, 1) OVER w IS NULL THEN 1
       |                  ELSE 0 END AS new_session
       |      FROM e
       |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |s AS (SELECT user_id, event_id, event_type, us,
       |             SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |               AS session_idx
       |      FROM m),
       |f AS (SELECT user_id, session_idx, event_type,
       |             ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
       |                                ORDER BY us, event_id) AS rn
       |      FROM s),
       |p AS (SELECT user_id, session_idx,
       |             concat_ws('>', MAX(CASE WHEN rn = 1 THEN event_type END),
       |                            MAX(CASE WHEN rn = 2 THEN event_type END),
       |                            MAX(CASE WHEN rn = 3 THEN event_type END)) AS path
       |      FROM f WHERE rn <= 3 GROUP BY 1, 2),
       |c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1)
       |SELECT path, n_sessions,
       |       CAST(n_sessions AS DOUBLE) / SUM(n_sessions) OVER () AS share
       |FROM c
       |ORDER BY n_sessions DESC, path
       |LIMIT 10""".stripMargin

  /** DAU/WAU engagement: per day, the distinct active users that day, the
    * distinct users across the trailing 7-day window, and the stickiness
    * ratio DAU/WAU — the canonical product-engagement metric. The trailing
    * DISTINCT cannot be a window sum (distincts don't decompose), so the
    * exact form joins the (day, user) relation to the day spine with a
    * bounded 7-day band — fan-out is exactly 7× the daily-active relation,
    * which is user-cardinality-sized, not event-sized. At 100 TB the exact
    * trailing distinct is usually replaced by a mergeable sketch per day
    * (HLL union over the window — `rel_hll_union` demonstrates the
    * primitive); this operator pins the exact semantics the sketch
    * approximates. */
  def dauWau(spark: SparkSession, dir: String): DataFrame = {
    // trailing window as an EXPLODE, not a band join: each active (day,
    // user) contributes to exactly the 7 window anchors day..day+6, so the
    // trailing distinct becomes an equi-shuffle (a band join would plan a
    // broadcast nested loop: spine × daily-active comparisons).
    //
    // ONE exploded pass (round-17, guide §2.4): carrying the anchor offset
    // lets a single aggregate produce BOTH metrics — dau = rows at off 0
    // (the relation is already (day, user)-distinct), wau = distinct users
    // over the 7 anchors. The previous form persisted the distinct relation
    // and paid two cached passes plus a dau⋈wau join; the cache scan
    // measured no cheaper than recomputing at bench scale, and the join
    // only re-discarded the anchor days past the observed range — exactly
    // the rows dau = 0 identifies here. (A two-level min(off)-per-
    // (anchor, user) variant that avoids the mixed-distinct Expand was
    // probed at sf6 and REJECTED: its (day, user) group state costs ~3×
    // the Expand's doubled stream — 2.14 s vs 0.72 s isolation probe.)
    Tables.events(spark, dir)
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).as("day"),
        col("user_id"))
      .distinct()
      .select(explode(sequence(lit(0), lit(6))).as("off"), col("day"), col("user_id"))
      .select((col("day") + col("off")).as("day"), col("off"), col("user_id"))
      .groupBy(col("day"))
      .agg(count(when(col("off") === 0, 1)).as("dau"),
        count_distinct(col("user_id")).as("wau"))
      .filter(col("dau") > 0)
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau")).as("stickiness"))
  }

  val dauWauSql: String =
    """WITH du AS (SELECT DISTINCT
      |              datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
      |              user_id
      |            FROM events),
      |dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY 1),
      |wau AS (SELECT du.day + off AS day, COUNT(DISTINCT du.user_id) AS wau
      |        FROM du, UNNEST(range(0, 7)) AS u(off)
      |        GROUP BY 1)
      |SELECT CAST(dau.day AS INTEGER) AS day, dau, wau,
      |       CAST(dau AS DOUBLE) / wau AS stickiness
      |FROM dau JOIN wau USING (day)
      |ORDER BY day""".stripMargin

  /** SEASONALITY matrix: event volume by (day-of-week × hour-of-day) with
    * each cell's share of the total — the load-curve heat map behind
    * capacity planning and anomaly baselines. Day-of-week comes from pure
    * epoch-day arithmetic ((day+3) mod 7, Monday=0 — 1970-01-01 was a
    * Thursday), NOT from calendar functions, because weekday numbering
    * conventions differ across engines (Spark Sun=1 vs ISO Mon=1 — a
    * known cross-engine trap). One map-side-combinable aggregate; the
    * share window runs over at most 168 cells. */
  def seasonality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val day = datediff(to_date(col("ts")), lit("1970-01-01"))
    Tables.events(spark, dir)
      .select(pmod(day + 3, lit(7)).as("dow"), hour(col("ts")).as("hod"))
      .groupBy(col("dow"), col("hod"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("share",
        col("n_events").cast("double") /
          sum(col("n_events")).over(Window.partitionBy()))
  }

  val seasonalitySql: String =
    """WITH c AS (
      |  SELECT (datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) % 7
      |           AS dow,
      |         CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hod
      |  FROM events)
      |SELECT CAST(dow AS INTEGER) AS dow, hod, COUNT(*) AS n_events,
      |       CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share
      |FROM c
      |GROUP BY dow, hod
      |ORDER BY dow, hod""".stripMargin

  /** NEW-USER GROWTH curve: per day, the users whose FIRST-ever event
    * lands that day, with the running total — the acquisition counterpart
    * of [[dauWau]]'s engagement view. First-touch is a MIN aggregate
    * (order-independent); the cumulative sum runs over the day-cardinality
    * relation, so the single-partition window is free at any corpus
    * size. */
  def newUsers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val first = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    first.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users",
        sum(col("new_users")).over(Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  val newUsersSql: String =
    """WITH f AS (
      |  SELECT user_id,
      |         MIN(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)))
      |           AS first_day
      |  FROM events GROUP BY user_id),
      |d AS (SELECT first_day AS day, COUNT(*) AS new_users FROM f GROUP BY 1)
      |SELECT CAST(day AS INTEGER) AS day, new_users,
      |       CAST(SUM(new_users) OVER (ORDER BY day
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS cum_users
      |FROM d
      |ORDER BY day""".stripMargin

  /** Behavior CO-OCCURRENCE with lift: for every unordered pair of event
    * types, how many users did both, and the lift
    * n_ab·n_users / (n_a·n_b) (>1 ⇒ the behaviors attract, <1 ⇒ repel) —
    * the association-mining primitive behind "users who X also Y". The
    * self-join runs on the DISTINCT (user, type) relation, whose size is
    * bounded by users × type-cardinality — at 100 TB the pair fan-out per
    * user is |types-per-user|² with a tiny type vocabulary, never
    * events². Lift stays exact: integer products divided once, and the
    * user totals ride along for auditability. */
  def cooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val totals = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val nUsers = ut.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val pairs = ut.as("a")
      .join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(totals.select(col("event_type").as("type_a"), col("n").as("n_a")),
        Seq("type_a"))
      .join(totals.select(col("event_type").as("type_b"), col("n").as("n_b")),
        Seq("type_b"))
      .crossJoin(nUsers)
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"), col("n_b"),
        ((col("n_both") * col("n_users")).cast("double") / (col("n_a") * col("n_b")))
          .as("lift"))
  }

  val cooccurrenceSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |t AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
      |u AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |             COUNT(*) AS n_both
      |      FROM ut a JOIN ut b
      |        ON a.user_id = b.user_id AND a.event_type < b.event_type
      |      GROUP BY 1, 2)
      |SELECT type_a, type_b, n_both, ta.n AS n_a, tb.n AS n_b,
      |       CAST(n_both * n_users AS DOUBLE) / (ta.n * tb.n) AS lift
      |FROM p
      |JOIN t ta ON ta.event_type = type_a
      |JOIN t tb ON tb.event_type = type_b
      |CROSS JOIN u
      |ORDER BY type_a, type_b""".stripMargin

  /** DAILY VOLUME ANOMALIES: days whose event count sits more than 3σ from
    * the mean daily volume — the load-anomaly monitor (outage, bot flood,
    * backfill) run over ingestion ledgers. The 3σ decision is the exact
    * integer boundary (n·c − s)² > 9(n·q − s²) in DECIMAL(38,0)/HUGEINT
    * (same discipline as `rel_zscore_outliers`): no float ever touches the
    * comparison, so both engines flag identical days. The day relation is
    * date-cardinality — the whole test after the one map-side-combined
    * count costs nothing at any corpus size. */
  def anomalyDays(spark: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val days = Tables.events(spark, dir)
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_events"))
    val stats = days.agg(count(lit(1)).as("n"), sum(col("n_events")).as("s"),
      sum(col("n_events").cast(d38) * col("n_events")).as("q"))
    val dev = col("n").cast(d38) * col("n_events") - col("s")
    days.crossJoin(stats)
      .select(col("day"), col("n_events"),
        ((dev * dev) > (lit(9).cast(d38) *
          (col("n").cast(d38) * col("q") - col("s").cast(d38) * col("s"))))
          .as("is_anomaly"))
  }

  val anomalyDaysSql: String =
    """WITH d AS (SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
      |                  COUNT(*) AS n_events
      |           FROM events GROUP BY 1),
      |st AS (SELECT COUNT(*) AS n, CAST(SUM(n_events) AS BIGINT) AS s,
      |              SUM(CAST(n_events AS HUGEINT) * n_events) AS q
      |       FROM d)
      |SELECT CAST(day AS INTEGER) AS day, n_events,
      |       (CAST(n AS HUGEINT) * n_events - s) * (CAST(n AS HUGEINT) * n_events - s)
      |         > 9 * (CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s) AS is_anomaly
      |FROM d, st
      |ORDER BY day""".stripMargin

  /** OHLC CANDLES: per (hour, event_type) the ORDERED-first/last and
    * min/max of `value` — the open/high/low/close time-bucket aggregate
    * every monitoring/market pipeline publishes, and the one aggregate
    * family (ordered first/last in group) the plain groupBy vocabulary
    * lacks. Open/close are picked by rank over the deterministic
    * (ts, event_id) order — never min_by on a possibly-tied timestamp
    * (a tie would be engine-arbitrary); min/max are order-independent.
    * One shuffle on the bucket key; the rank windows sort within the
    * already-shuffled partitions. */
  def ohlc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucketed = Tables.events(spark, dir)
      .select(col("event_type"),
        date_trunc("hour", col("ts")).cast("long").as("hour_epoch"),
        col("ts"), col("event_id"), col("value"))
    val wOrd = Window.partitionBy(col("hour_epoch"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val wAll = Window.partitionBy(col("hour_epoch"), col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bucketed
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .groupBy(col("hour_epoch"), col("event_type"))
      .agg(
        max(col("cnt")).as("n_events"),
        max(when(col("rn") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn") === col("cnt"), col("value"))).as("close"))
  }

  val ohlcSql: String =
    """WITH b AS (SELECT event_type,
      |                  CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
      |                    AS hour_epoch,
      |                  ts, event_id, value
      |           FROM events),
      |r AS (SELECT hour_epoch, event_type, value,
      |             ROW_NUMBER() OVER (PARTITION BY hour_epoch, event_type
      |                                ORDER BY ts, event_id) AS rn,
      |             COUNT(*) OVER (PARTITION BY hour_epoch, event_type) AS cnt
      |      FROM b)
      |SELECT hour_epoch, event_type,
      |       CAST(MAX(cnt) AS BIGINT) AS n_events,
      |       MAX(CASE WHEN rn = 1 THEN value END) AS open,
      |       MAX(value) AS high,
      |       MIN(value) AS low,
      |       MAX(CASE WHEN rn = cnt THEN value END) AS close
      |FROM r
      |GROUP BY hour_epoch, event_type
      |ORDER BY hour_epoch, event_type""".stripMargin

  /** ENGAGEMENT CONCENTRATION (Lorenz curve by decile): users ranked by
    * event count into ntile(10) deciles, each decile's share and cumulative
    * share of all events in integer basis points — the "top 10% of users
    * produce X% of traffic" report, and for a training pipeline the
    * user-skew audit run before per-user data caps are chosen. Shares are
    * computed from cumulative integer sums ((cum·10000) div total), never
    * summed floats, so the Lorenz curve is exactly reproducible (and the
    * last row is exactly 10000). The per-user aggregate shrinks events by
    * orders of magnitude before the rank, but user cardinality at 100 TB
    * is still 10⁸-10⁹ rows — borderline for one sorted partition — so the
    * decile assignment is row-gated by [[TwoPass.ntileDesc]] like the
    * corpus windows (single-task ntile below the gate, exact two-pass
    * rank form above it; TwoPassSpec holds the regimes identical). The
    * ten-row cumulative window after the decile aggregate stays global by
    * design — its cardinality is the decile count. */
  def powerUsers(spark: SparkSession, dir: String): DataFrame =
    powerUsersWithGate(spark, dir, TwoPass.WindowGateRows)

  private[graft] def powerUsersWithGate(
      spark: SparkSession, dir: String, gate: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val events = Tables.events(spark, dir)
    val perUser = events
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    // perUser is an aggregate: distinct users <= event rows, so the
    // (memoized) event count decides the regime whenever it is within the
    // gate; only above it does a map-side HLL over the pre-agg key estimate
    // the user count. HLL error only flips the regime near the gate, and
    // the regimes are value-identical, so it never changes a result.
    val nEvents = Tables.rows(spark, dir, "events")
    val users =
      if (nEvents <= gate) nEvents
      else events.agg(approx_count_distinct(col("user_id"))).head().getLong(0)
    val deciles = TwoPass
      .ntileDesc(perUser, "n_events", "user_id", 10, "decile", users, gate)
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"))
    val tot = deciles.agg(sum(col("n_events")).as("total_events"))
    val wc = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciles.crossJoin(tot)
      .withColumn("cum_events", sum(col("n_events")).over(wc))
      .select(col("decile"), col("n_users"), col("n_events"),
        expr("(n_events * 10000) div total_events").as("share_bp"),
        expr("(cum_events * 10000) div total_events").as("cum_share_bp"))
  }

  val powerUsersSql: String =
    """WITH pu AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id),
      |dc AS (SELECT n_events,
      |              CAST(NTILE(10) OVER (ORDER BY n_events DESC, user_id) AS INTEGER)
      |                AS decile
      |       FROM pu),
      |d AS (SELECT decile, COUNT(*) AS n_users,
      |             CAST(SUM(n_events) AS BIGINT) AS n_events
      |      FROM dc GROUP BY decile),
      |t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total_events FROM d),
      |c AS (SELECT decile, n_users, n_events,
      |             CAST(SUM(n_events) OVER (ORDER BY decile
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |               AS cum_events
      |      FROM d)
      |SELECT decile, n_users, n_events,
      |       (n_events * 10000) // total_events AS share_bp,
      |       (cum_events * 10000) // total_events AS cum_share_bp
      |FROM c, t
      |ORDER BY decile""".stripMargin

  /** DAY-OVER-DAY distribution DRIFT of the event-type mix: for each
    * observed day, a chi-square-style statistic against the previous
    * observed day — Σ over types of (c−p)²·10000 div (c+p+1), summed as
    * exact integers (the +1 regularizes types absent on both days; every
    * operand is non-negative, so truncate-vs-floor division agrees across
    * engines). The monitoring primitive of a continuously-ingested event
    * pipeline: a schema change, bot flood, or broken SDK shows up as a
    * drift spike days before it shows up in revenue. The day×type grid is
    * completed (absent counts = 0) so a type VANISHING contributes its
    * full mass rather than silently skipping a lag step. At 100 TB: one
    * map-side-combined count to day×type cardinality (thousands of rows);
    * the grid completion and lag run on that tiny relation, never on raw
    * events. */
  def drift(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).as("day"),
        col("event_type"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val grid = counts.select(col("day")).distinct()
      .crossJoin(counts.select(col("event_type")).distinct())
    val full = grid.join(counts, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day"))
    full.withColumn("prev_n", lag(col("n"), 1).over(w))
      .filter(col("prev_n").isNotNull)
      .select(col("day"),
        expr("((n - prev_n) * (n - prev_n) * 10000) div (n + prev_n + 1)")
          .as("contrib"))
      .groupBy(col("day"))
      .agg(sum(col("contrib")).as("drift_score"))
  }

  val driftSql: String =
    """WITH counts AS (
      |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
      |         event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |grid AS (SELECT d.day, t.event_type
      |         FROM (SELECT DISTINCT day FROM counts) d,
      |              (SELECT DISTINCT event_type FROM counts) t),
      |full_g AS (SELECT g.day, g.event_type, COALESCE(n, 0) AS n
      |           FROM grid g LEFT JOIN counts c
      |             ON c.day = g.day AND c.event_type = g.event_type),
      |lagd AS (SELECT day, n,
      |                LAG(n) OVER (PARTITION BY event_type ORDER BY day)
      |                  AS prev_n
      |         FROM full_g)
      |SELECT CAST(day AS INTEGER) AS day,
      |       CAST(SUM(((n - prev_n) * (n - prev_n) * 10000) // (n + prev_n + 1))
      |         AS BIGINT) AS drift_score
      |FROM lagd
      |WHERE prev_n IS NOT NULL
      |GROUP BY day
      |ORDER BY day""".stripMargin

  /** Watermark-sizing profile: per event_type, how far behind the running
    * event-time high-water mark do events arrive? Arrival order is
    * `event_id` (the monotone ingestion id); lateness of an event is the
    * running max of event-time over everything ingested before it, minus its
    * own event-time. The p50/p95/p99 of the late-event lateness distribution
    * is exactly the number a Structured Streaming deployment plugs into
    * `withWatermark` — p99 bounds dropped-late-data at 1%.
    *
    * Plan: one window pass per type for the running max (per-type streams
    * carry per-source watermarks; at 100 TB the running max becomes the
    * standard two-pass prefix-max — per-partition max, then offsets — the
    * same shape as `mm_shard_manifest`'s prefix sum), then the pinned
    * integer-index percentile interpolation over late events only (see
    * [[interArrival]] for why the built-in percentile is not cross-engine
    * stable).
    */
  def latenessProfile(spark: SparkSession, dir: String): DataFrame = {
    val runW = Window.partitionBy(col("event_type"))
      .orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pw = Window.partitionBy(col("event_type")).orderBy(col("late_us"))
    val cw = Window.partitionBy(col("event_type"))
    val lateness = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("hwm_us", max(col("us")).over(runW))
      .withColumn("late_us",
        when(col("hwm_us").isNull || col("hwm_us") <= col("us"), lit(0L))
          .otherwise(col("hwm_us") - col("us")))
    val totals = lateness.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"))
    val pcts = lateness.filter(col("late_us") > 0)
      .select(col("event_type"), col("late_us"))
      .withColumn("rn", row_number().over(pw))
      .withColumn("n", count(lit(1)).over(cw))
      .groupBy(col("event_type"))
      .agg(
        max(when(expr("rn - 1 = div(50*(n-1), 100)"), col("late_us"))).as("a50"),
        max(when(expr("rn - 1 = least(div(50*(n-1), 100) + 1, n - 1)"),
          col("late_us"))).as("b50"),
        max(expr("pmod(50*(n-1), 100)")).as("r50"),
        max(when(expr("rn - 1 = div(99*(n-1), 100)"), col("late_us"))).as("a99"),
        max(when(expr("rn - 1 = least(div(99*(n-1), 100) + 1, n - 1)"),
          col("late_us"))).as("b99"),
        max(expr("pmod(99*(n-1), 100)")).as("r99"),
        max(col("late_us")).as("max_late_us"))
    totals.join(pcts, Seq("event_type"), "left")
      .select(col("event_type"), col("n_events"), col("n_late"),
        (col("n_late").cast("double") / col("n_events")).as("late_frac"),
        expr("cast(a50 as double) + (cast(r50 as double) / 100.0)" +
          " * cast(b50 - a50 as double)").as("p50_late_us"),
        expr("cast(a99 as double) + (cast(r99 as double) / 100.0)" +
          " * cast(b99 - a99 as double)").as("p99_late_us"),
        col("max_late_us"))
  }

  val latenessProfileSql: String =
    """WITH e AS (SELECT event_type, event_id,
      |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |           FROM events),
      |lat AS (SELECT event_type, us,
      |               MAX(us) OVER (PARTITION BY event_type ORDER BY event_id
      |                             ROWS BETWEEN UNBOUNDED PRECEDING
      |                                      AND 1 PRECEDING) AS hwm_us
      |        FROM e),
      |l2 AS (SELECT event_type,
      |              CASE WHEN hwm_us IS NULL OR hwm_us <= us THEN 0
      |                   ELSE hwm_us - us END AS late_us
      |       FROM lat),
      |totals AS (SELECT event_type, COUNT(*) AS n_events,
      |                  SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS n_late
      |           FROM l2 GROUP BY event_type),
      |r AS (SELECT event_type, late_us,
      |             row_number() OVER (PARTITION BY event_type ORDER BY late_us) AS rn,
      |             COUNT(*) OVER (PARTITION BY event_type) AS n
      |      FROM l2 WHERE late_us > 0),
      |pcts AS (
      |  SELECT event_type,
      |         MAX(CASE WHEN rn - 1 = (50*(n-1))//100 THEN late_us END) AS a50,
      |         MAX(CASE WHEN rn - 1 = LEAST((50*(n-1))//100 + 1, n - 1) THEN late_us END) AS b50,
      |         MAX((50*(n-1))%100) AS r50,
      |         MAX(CASE WHEN rn - 1 = (99*(n-1))//100 THEN late_us END) AS a99,
      |         MAX(CASE WHEN rn - 1 = LEAST((99*(n-1))//100 + 1, n - 1) THEN late_us END) AS b99,
      |         MAX((99*(n-1))%100) AS r99,
      |         MAX(late_us) AS max_late_us
      |  FROM r GROUP BY event_type)
      |SELECT t.event_type, t.n_events, CAST(t.n_late AS BIGINT) AS n_late,
      |       CAST(t.n_late AS DOUBLE) / t.n_events AS late_frac,
      |       CAST(a50 AS DOUBLE) + (CAST(r50 AS DOUBLE) / 100.0) * CAST(b50 - a50 AS DOUBLE) AS p50_late_us,
      |       CAST(a99 AS DOUBLE) + (CAST(r99 AS DOUBLE) / 100.0) * CAST(b99 - a99 AS DOUBLE) AS p99_late_us,
      |       max_late_us
      |FROM totals t LEFT JOIN pcts p USING (event_type)
      |ORDER BY t.event_type""".stripMargin

  /** A/B EXPERIMENT READOUT with an exact-integer significance decision.
    * Users are assigned to arms by id hash (50/50, reproducible on any
    * cluster, auditable per user); conversion = the user is a power
    * purchaser (≥ [[AbConvPurchases]] purchases — "ever purchased" is
    * saturated on this corpus and would make every readout degenerate).
    * The readout is the two-proportion χ² test at α = 0.05, decided
    * ENTIRELY in integer arithmetic: z² > 3.84 rearranges to
    * `100·(k_a·n_b − k_b·n_a)²·n  >  384·n_a·n_b·k·(n−k)` (k = total
    * conversions, n = total users) — DECIMAL(38,0) on the Spark side,
    * HUGEINT in the oracle, the same widening the z-score outlier flag
    * uses; a float z on the decision boundary would flip between engines
    * on the last ulp. Conversion rates and lift are floor-division basis
    * points. The corpus-sized work is one map-side-combined per-user
    * aggregate; everything after is arithmetic on one row. */
  private val AbConvPurchases = 14L

  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg((sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        >= AbConvPurchases).cast("long").as("conv"))
      .withColumn("arm",
        pmod(graft.functions.TextFns.hash60(col("user_id").cast("string")), lit(2)))
    val kanb = col("conv_a").cast(d38) * col("n_b")
    val kbna = col("conv_b").cast(d38) * col("n_a")
    val k = col("conv_a").cast(d38) + col("conv_b")
    val n = col("n_a").cast(d38) + col("n_b")
    users
      .agg(
        count(when(col("arm") === 0, 1)).as("n_a"),
        count(when(col("arm") === 1, 1)).as("n_b"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("conv_b"))
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        expr("(conv_a * 10000) div n_a").as("cr_a_bp"),
        expr("(conv_b * 10000) div n_b").as("cr_b_bp"),
        expr("(conv_b * 10000) div n_b - (conv_a * 10000) div n_a")
          .as("lift_bp"),
        (lit(100).cast(d38) * (kanb - kbna) * (kanb - kbna) * n >
          lit(384).cast(d38) * col("n_a") * col("n_b") * k * (n - k))
          .as("significant"))
  }

  val abTestSql: String = {
    val arm = s"${graft.functions.TextFns.hash60Sql("CAST(user_id AS VARCHAR)")} % 2"
    s"""WITH u AS (SELECT user_id,
       |                  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
       |                       >= $AbConvPurchases AS INTEGER) AS conv,
       |                  $arm AS arm
       |           FROM events
       |           GROUP BY user_id),
       |a AS (SELECT COUNT(CASE WHEN arm = 0 THEN 1 END) AS n_a,
       |             COUNT(CASE WHEN arm = 1 THEN 1 END) AS n_b,
       |             CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
       |               AS conv_a,
       |             CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
       |               AS conv_b
       |      FROM u)
       |SELECT n_a, n_b, conv_a, conv_b,
       |       (conv_a * 10000) // n_a AS cr_a_bp,
       |       (conv_b * 10000) // n_b AS cr_b_bp,
       |       (conv_b * 10000) // n_b - (conv_a * 10000) // n_a AS lift_bp,
       |       100 * (CAST(conv_a AS HUGEINT)*n_b - CAST(conv_b AS HUGEINT)*n_a)
       |           * (CAST(conv_a AS HUGEINT)*n_b - CAST(conv_b AS HUGEINT)*n_a)
       |           * (CAST(n_a AS HUGEINT) + n_b)
       |         > 384 * CAST(n_a AS HUGEINT) * n_b
       |             * (CAST(conv_a AS HUGEINT) + conv_b)
       |             * (CAST(n_a AS HUGEINT) + n_b - conv_a - conv_b)
       |         AS significant
       |FROM a""".stripMargin
  }

  /** Minimum inter-event gaps before a user's timing is judged. */
  private val BotMinGaps = 20L

  /** BOT / AUTOMATION FLAGS from inter-arrival regularity — the standard
    * traffic-quality screen: organic human activity is bursty
    * (coefficient of variation of gaps ≥ 1, the Poisson floor), while
    * schedulers and scripts tick (CV ≪ 1). Both flags are EXACT INTEGER
    * decisions: gaps are floored to whole minutes (µs² sums would
    * overflow BIGINT at year-scale spans; minute-scale sums are safe past
    * 10⁶ events/user), CV² < 1 is `n·Σx² − S² < S²` on BIGINTs, and the
    * rapid-fire flag `mean < 12 h` is `S < 720·n` — no float ever touches
    * a decision boundary (`cv2_bp` is the same quantity in floor-division
    * basis points for ranking). One window pass per user plus a map-side
    * combined aggregate: shuffles by user_id once, output is users-sized.
    * Production tuning: the CV threshold moves per surface; the invariant
    * worth keeping is deciding on integer moments, not on a float CV. */
  def botFlags(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap_min", expr("div(us - lag(us, 1) over (partition by user_id order by us, event_id), 60000000)"))
      .filter(col("gap_min").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap_min")).as("s"),
        sum(col("gap_min") * col("gap_min")).as("q"))
      .filter(col("n_gaps") >= BotMinGaps && col("s") > 0)
      .select(col("user_id"), col("n_gaps"),
        col("s").as("total_gap_min"),
        (col("s").cast("double") / col("n_gaps")).as("mean_gap_min"),
        expr("div((n_gaps * q - s * s) * 10000, s * s)").as("cv2_bp"),
        (col("n_gaps") * col("q") - col("s") * col("s") < col("s") * col("s"))
          .as("flag_regular"),
        (col("s") < col("n_gaps") * 720).as("flag_rapid"))
  }

  val botFlagsSql: String =
    s"""WITH e AS (SELECT user_id, event_id,
       |                  epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |           FROM events),
       |g AS (SELECT user_id,
       |             (us - LAG(us, 1) OVER (PARTITION BY user_id
       |                                    ORDER BY us, event_id)) // 60000000
       |               AS gap_min
       |      FROM e),
       |a AS (SELECT user_id, COUNT(*) AS n_gaps,
       |             CAST(SUM(gap_min) AS BIGINT) AS s,
       |             CAST(SUM(gap_min * gap_min) AS BIGINT) AS q
       |      FROM g WHERE gap_min IS NOT NULL
       |      GROUP BY user_id)
       |SELECT user_id, n_gaps, s AS total_gap_min,
       |       CAST(s AS DOUBLE) / n_gaps AS mean_gap_min,
       |       ((n_gaps * q - s * s) * 10000) // (s * s) AS cv2_bp,
       |       n_gaps * q - s * s < s * s AS flag_regular,
       |       s < n_gaps * 720 AS flag_rapid
       |FROM a
       |WHERE n_gaps >= $BotMinGaps AND s > 0
       |ORDER BY user_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("events_power_users", powerUsers(_, _).orderBy("decile"), Some(powerUsersSql)),
    Q("events_drift", drift(_, _).orderBy("day"), Some(driftSql)),
    Q("events_ohlc", ohlc(_, _).orderBy("hour_epoch", "event_type"), Some(ohlcSql)),
    Q("events_anomaly_days", anomalyDays(_, _).orderBy("day"), Some(anomalyDaysSql)),
    Q("events_rfm", rfmScores(_, _).orderBy("user_id"), Some(rfmScoresSql)),
    Q("events_cooccurrence", cooccurrence(_, _).orderBy("type_a", "type_b"),
      Some(cooccurrenceSql)),
    Q("events_dau_wau", dauWau(_, _).orderBy("day"), Some(dauWauSql)),
    Q("events_new_users", newUsers(_, _).orderBy("day"), Some(newUsersSql)),
    Q("events_seasonality", seasonality(_, _).orderBy("dow", "hod"),
      Some(seasonalitySql)),
    Q("events_top_paths", topPaths, Some(topPathsSql)),
    Q("events_time_to_convert", timeToConvert(_, _).orderBy("n_users"),
      Some(timeToConvertSql)),
    Q("events_inter_arrival", interArrival(_, _).orderBy("event_type"),
      Some(interArrivalSql)),
    Q("events_markov", markovTransitions(_, _).orderBy("from_type", "to_type"),
      Some(markovTransitionsSql)),
    Q("events_hourly", hourly(_, _).orderBy("window_start_epoch", "event_type"),
      Some(hourlySql)),
    // same oracle as events_sessions: three formulations, one truth
    Q("events_session_window", sessionWindow(_, _).orderBy("user_id", "session_idx"),
      Some(sessionsSql)),
    Q("events_attribution_models", attributionModels(_, _).orderBy("purchase_id"),
      Some(attributionModelsSql)),
    Q("events_funnel", funnel(_, _).orderBy("user_id"), Some(funnelSql)),
    Q("events_retention", retention(_, _).orderBy("cohort_wk", "week_offset"),
      Some(retentionSql)),
    Q("events_cohort_ltv", cohortLtv(_, _).orderBy("cohort_wk", "week_offset"),
      Some(cohortLtvSql)),
    Q("events_cusum", cusum(_, _).orderBy("day"), Some(cusumSql)),
    Q("events_sessions", sessions(_, _).orderBy("user_id", "session_idx"),
      Some(sessionsSql)),
    Q("events_click_attribution", attribution(_, _).orderBy("click_id", "purchase_id"),
      Some(attributionSql)),
    Q("events_survival", survival(_, _).orderBy("lifetime_days"),
      Some(survivalSql)),
    Q("events_lateness_profile", latenessProfile(_, _).orderBy("event_type"),
      Some(latenessProfileSql)),
    Q("events_bot_flags", botFlags(_, _).orderBy("user_id"),
      Some(botFlagsSql)),
    Q("events_ab_test", abTest(_, _), Some(abTestSql)))
}
