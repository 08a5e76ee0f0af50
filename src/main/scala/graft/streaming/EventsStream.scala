package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The batch reads over the parquet `events` table: tumbling, sliding
  * and session windows, the gap-filled hourly grid and its analytics,
  * ingest dedup, click attribution, enrichment and gap-rule sessions
  * (SURVEY.md §2.10 notes the reference has no event-time surface at all;
  * every entry here is DuckDB-oracled).
  *
  * Scale notes: the windowed aggregations are standard partial+final hash
  * aggregates keyed on (window, event_type); the session reads shuffle
  * once on user_id and never hold more than one user's events in a group.
  */
object EventsStream {

  /** Tumbling 1-hour windows per event_type, shared by [[windowAgg]] and
    * the dense grid. Epoch-aligned window boundaries ≡ date_trunc('hour'),
    * which is the oracle formulation. */
  private def windowAggTransform(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 6).as("value_sum"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"), col("value_sum"))

  /** Batch entry (registered): the tumbling windows over the parquet
    * events table, presentation-ordered. */
  def windowAgg(spark: SparkSession, dir: String): DataFrame =
    windowAggTransform(Tables.events(spark, dir))
      .orderBy("hour_start", "event_type")

  val windowAggSql: String =
    """SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |       count(*) AS n, round(sum(value), 6) AS value_sum
      |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin

  /** Sliding windows (registered): 2-hour windows advancing every hour,
    * per event_type — the overlapping-window shape behind "last 2h" tiles
    * that refresh hourly. Epoch-aligned, so every event lands in EXACTLY
    * two windows: starts `date_trunc(hour, ts)` and that minus 1 hour
    * (the oracle formulation — a 2-element unnest, no window function).
    * The aggregate is still one partial+final hash aggregate keyed on
    * (window, type); the slide multiplies rows into the aggregate by
    * length/slide (2 here), a constant factor set by config, not data. */
  def slidingWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 6).as("value_sum"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("value_sum"))
      .orderBy("win_start", "event_type")

  val slidingWindowAggSql: String =
    """WITH ex AS (
      |  SELECT event_type, value,
      |         unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
      |                 date_trunc('hour', ts)]) AS win_start
      |  FROM events
      |)
      |SELECT win_start, event_type, count(*) AS n,
      |       round(sum(value), 6) AS value_sum
      |FROM ex GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  /** Spark's NATIVE gap-based sessionization — `session_window(ts, gap)`
    * — as a registered batch entry (the declarative operator, with
    * Catalyst planning the merge): per user, sessions close after a
    * 30-minute silence, window end = last event + gap.
    *
    * Semantics note for the oracle: session_window starts a NEW session
    * when an event lands exactly ON the previous window's end
    * (gap >= 30 min ⇒ break), while [[SessionGapMs]]'s custom rule
    * breaks only on gap > 30 min — the oracle encodes the native
    * operator's >= rule. Scale: one hash exchange on user_id, then
    * per-partition ordered merge inside the aggregate — the same
    * single-shuffle shape as the lag-based [[sessionMetrics]]. */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("value_sum"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("value_sum"))
      .orderBy("user_id", "session_start")

  val sessionWindowAggSql: String =
    """WITH s AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), g AS (
      |  SELECT user_id, ts, value,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                        ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM s
      |)
      |SELECT user_id, min(ts) AS session_start,
      |       max(ts) + INTERVAL 30 MINUTE AS session_end,
      |       count(*) AS n_events, round(sum(value), 6) AS value_sum
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Gap-filled (dense) hourly aggregation — the windowed aggregate with
    * every missing hour present as an explicit zero row, the shape BI
    * tools and downstream window functions require (a moving average over
    * a sparse series silently skips empty hours). The hourly calendar is
    * GENERATED from one aggregated (min, max) row — `sequence` + explode
    * on a single row, never a driver-side collect and never a table scan
    * — then left-joined against the sparse aggregate per (hour, type).
    * At 100 TB the calendar side is hours × types (config-bounded
    * cardinality), broadcast against the aggregated (already reduced)
    * fact side. */
  def denseHourlyAgg(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val sparse = windowAggTransform(events)
    val bounds = events
      .agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
    val hours = bounds.select(
      explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour_start"))
    val types = events.select("event_type").distinct()
    hours.crossJoin(types)
      .join(sparse, Seq("hour_start", "event_type"), "left")
      .select(col("hour_start"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("value_sum"), lit(0.0)).as("value_sum"))
      .orderBy("hour_start", "event_type")
  }

  val denseHourlyAggSql: String =
    """WITH sparse AS (
      |  SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |         count(*) AS n, round(sum(value), 6) AS value_sum
      |  FROM events GROUP BY 1, 2
      |), bounds AS (
      |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      |  FROM events
      |), hours AS (
      |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start FROM bounds
      |), grid AS (
      |  SELECT hour_start, event_type
      |  FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events)
      |)
      |SELECT g.hour_start, g.event_type,
      |       coalesce(s.n, 0) AS n,
      |       coalesce(s.value_sum, 0.0) AS value_sum
      |FROM grid g LEFT JOIN sparse s
      |  ON s.hour_start = g.hour_start AND s.event_type = g.event_type
      |ORDER BY g.hour_start, g.event_type""".stripMargin

  /** 24-hour moving average over the DENSE hourly series — the window
    * analytic gap filling exists to enable (a moving frame over a sparse
    * series silently spans unequal real-time intervals; over the dense
    * grid every 24-row frame is exactly 24 hours). The accumulation is
    * decimal-exact (sum of DECIMAL, divided as double once per row), so
    * partial-order differences between engines cannot flip the 6dp
    * rounding. Scale shape: the window partitions by event_type over the
    * ALREADY-AGGREGATED hourly grid — hours × types rows, config-bounded
    * cardinality, never the raw fact table. */
  def movingHourlyAvg(spark: SparkSession, dir: String): DataFrame = {
    val dense = denseHourlyAgg(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour_start"))
      .rowsBetween(-23, 0)
    dense
      .withColumn("ma24", round(
        sum(col("value_sum").cast("decimal(28,10)")).over(w).cast("double")
          / count(lit(1)).over(w), 6))
      .select("hour_start", "event_type", "value_sum", "ma24")
      .orderBy("hour_start", "event_type")
  }

  val movingHourlyAvgSql: String =
    """WITH sparse AS (
      |  SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |         round(sum(value), 6) AS value_sum
      |  FROM events GROUP BY 1, 2
      |), bounds AS (
      |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      |  FROM events
      |), hours AS (
      |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start FROM bounds
      |), grid AS (
      |  SELECT hour_start, event_type
      |  FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events)
      |), dense AS (
      |  SELECT g.hour_start, g.event_type,
      |         coalesce(s.value_sum, 0.0) AS value_sum
      |  FROM grid g LEFT JOIN sparse s
      |    ON s.hour_start = g.hour_start AND s.event_type = g.event_type
      |)
      |SELECT hour_start, event_type, value_sum,
      |       round(CAST(sum(CAST(value_sum AS DECIMAL(28,10))) OVER w AS DOUBLE)
      |             / count(*) OVER w, 6) AS ma24
      |FROM dense
      |WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
      |             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
      |ORDER BY hour_start, event_type""".stripMargin

  /** Linear interpolation over the dense hourly grid — the third member
    * of the gap-handling family (zero-fill: [[denseHourlyAgg]]; carry
    * forward: `Behavior.forwardFill`; this: straight-line estimate):
    * hours with no observations for an event type get the linear
    * interpolation between the surrounding observed hourly MEANS, the
    * imputation a metrics store applies before charting or anomaly
    * scoring. Edge hours before the first / after the last observation
    * stay NULL (no extrapolation).
    *
    * Scale shape: two window passes over the ALREADY-AGGREGATED grid
    * (hours × types, config-bounded — never the fact table), both
    * partitioned by event_type: a running `last(_, ignoreNulls)` looking
    * back and a `first(_, ignoreNulls)` looking forward. WindowExec
    * keeps each as one linear pass per partition.
    *
    * Determinism: `round(x, 6)` is NOT the same primitive on the two
    * engines (Spark rounds the double's exact decimal expansion HALF_UP;
    * DuckDB scales by 10⁶ in floating point first) — on a boundary
    * value the results differ in the 6th decimal. Every rounding here is
    * therefore written as the explicit `round(x * 1e6) / 1e6` sequence
    * ON BOTH ENGINES, and the interpolation arithmetic mirrors the
    * oracle's operation order exactly, so the pre-round doubles are
    * bit-equal and scale-0 rounding agrees everywhere off the
    * measure-zero .5 tie. Inputs are bit-equal to start: the dense
    * grid's value_sum is 6dp-stable (its entry is oracle-green) and the
    * epoch weights are exact integers. On an observed hour
    * prev==next==current, so the n>0 branch is taken explicitly (the
    * general formula would hit 0/0 there). */
  def linearInterpolate(spark: SparkSession, dir: String): DataFrame = {
    val dense = denseHourlyAgg(spark, dir)
      .withColumn("mean_obs",
        when(col("n") > 0,
          round(col("value_sum") / col("n") * 1e6) / 1e6))
    val back = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour_start"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val fwd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour_start"))
      .rowsBetween(0, Window.unboundedFollowing)
    val obsHour = when(col("n") > 0, col("hour_start"))
    val withEnds = dense
      .withColumn("pv", last(col("mean_obs"), ignoreNulls = true).over(back))
      .withColumn("ph", last(obsHour, ignoreNulls = true).over(back))
      .withColumn("nv", first(col("mean_obs"), ignoreNulls = true).over(fwd))
      .withColumn("nh", first(obsHour, ignoreNulls = true).over(fwd))
    val frac = (unix_timestamp(col("hour_start")) - unix_timestamp(col("ph")))
      .cast("double") /
      (unix_timestamp(col("nh")) - unix_timestamp(col("ph"))).cast("double")
    val v = when(col("n") > 0, col("mean_obs"))
      .when(col("pv").isNull || col("nv").isNull, lit(null))
      .otherwise(col("pv") + (col("nv") - col("pv")) * frac)
    withEnds.select(col("hour_start"), col("event_type"), col("n"),
      (round(v * 1e6) / 1e6).as("value_interp"))
      .orderBy("hour_start", "event_type")
  }

  val linearInterpolateSql: String =
    """WITH sparse AS (
      |  SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |         count(*) AS n, round(sum(value), 6) AS value_sum
      |  FROM events GROUP BY 1, 2
      |), bounds AS (
      |  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      |  FROM events
      |), hours AS (
      |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start FROM bounds
      |), grid AS (
      |  SELECT hour_start, event_type
      |  FROM hours CROSS JOIN (SELECT DISTINCT event_type FROM events)
      |), dense AS (
      |  SELECT g.hour_start, g.event_type,
      |         coalesce(s.n, 0) AS n,
      |         CASE WHEN s.n > 0
      |              THEN round(s.value_sum / s.n * 1000000) / 1000000 END AS mean_obs
      |  FROM grid g LEFT JOIN sparse s
      |    ON s.hour_start = g.hour_start AND s.event_type = g.event_type
      |), w AS (
      |  SELECT hour_start, event_type, n, mean_obs,
      |         last_value(mean_obs IGNORE NULLS) OVER wb AS pv,
      |         last_value(CASE WHEN n > 0 THEN hour_start END IGNORE NULLS) OVER wb AS ph,
      |         first_value(mean_obs IGNORE NULLS) OVER wf AS nv,
      |         first_value(CASE WHEN n > 0 THEN hour_start END IGNORE NULLS) OVER wf AS nh
      |  FROM dense
      |  WINDOW wb AS (PARTITION BY event_type ORDER BY hour_start
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wf AS (PARTITION BY event_type ORDER BY hour_start
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |)
      |SELECT hour_start, event_type, n,
      |       round((CASE WHEN n > 0 THEN mean_obs
      |                   WHEN pv IS NULL OR nv IS NULL THEN NULL
      |                   ELSE pv + (nv - pv)
      |                        * ((epoch(hour_start) - epoch(ph))
      |                           / (epoch(nh) - epoch(ph))) END) * 1000000)
      |       / 1000000 AS value_interp
      |FROM w ORDER BY hour_start, event_type""".stripMargin

  /** Ingest-time exact deduplication: an at-least-once source (Kafka,
    * redelivering log shipper) re-delivers events, and the pipeline must
    * keep exactly one row per event_id.
    *
    * Batch entry (registered, oracle-gated): redelivery is simulated
    * deterministically (every event_id ≡ 0 mod 7 arrives twice) and
    * deduped by key. Duplicate rows are bit-identical, so keep-any ≡
    * keep-first and the result is deterministic. The dedup is a
    * hash-groupBy on the key — partial aggregation collapses duplicates
    * map-side, the shuffle carries one row per key per partition. */
  def ingestDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("event_id", "user_id", "ts", "event_type", "value")
    val redelivered = ev.unionAll(ev.filter(col("event_id") % 7 === 0))
    redelivered.dropDuplicates("event_id").orderBy("event_id")
  }

  val ingestDedupSql: String =
    """SELECT DISTINCT event_id, user_id, ts, event_type, value
      |FROM (SELECT * FROM events
      |      UNION ALL
      |      SELECT * FROM events WHERE event_id % 7 = 0)
      |ORDER BY event_id""".stripMargin

  /** Attribution lookback: a purchase is attributed to the same user's
    * clicks within this many minutes before it. */
  private val AttributionMinutes: Int = 30

  /** Click→purchase attribution (registered, oracle-gated) — the
    * interval join shape: clicks and purchases are two filtered scans of
    * the events table, joined on user_id plus an event-time bound. The
    * join is an equi-join on user_id with the time bound as a residual
    * predicate, so planning gets a shuffle/broadcast HASH join (never a
    * nested loop — pinned in EventsStreamSpec); exact µs lag arithmetic.
    * Fan-out is bounded by per-user in-window activity — at 100 TB the
    * join shuffles on user_id and a hot user costs its own pair count,
    * never a cross product. */
  def clickAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $AttributionMinutes MINUTES"))
      .select(col("p_id"), col("c_id"), col("p_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
      .orderBy("p_id", "c_id")
  }

  val clickAttributionSql: String =
    s"""SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id AS user_id,
       |       epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)) AS lag_us
       |FROM (SELECT * FROM events WHERE event_type = 'click') c
       |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
       |  ON c.user_id = p.user_id
       | AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
       | AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL $AttributionMinutes MINUTE
       |ORDER BY p_id, c_id""".stripMargin

  /** Unattributed clicks (registered, oracle-gated as NOT EXISTS) —
    * the LEFT-OUTER companion of the attribution join: clicks followed by
    * NO same-user purchase within the [[AttributionMinutes]] lookahead,
    * i.e. the abandonment feed a remarketing pipeline consumes. A
    * left-outer interval join filtered to the null-extended side; same
    * scale shape as [[clickAttribution]] (shuffle on user_id), and the
    * null-side filter is free. */
  def unattributedClicks(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"INTERVAL $AttributionMinutes MINUTES"),
      "left_outer")
      .filter(col("p_id").isNull)
      .select(col("c_id"), col("c_user").as("user_id"))
      .orderBy("c_id")
  }

  val unattributedClicksSql: String =
    s"""SELECT c.event_id AS c_id, c.user_id
       |FROM events c
       |WHERE c.event_type = 'click' AND NOT EXISTS (
       |  SELECT 1 FROM events p
       |  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
       |    AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
       |    AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL $AttributionMinutes MINUTE)
       |ORDER BY c_id""".stripMargin

  /** Event enrichment (registered, oracle-gated): each event picks up
    * its customer's market segment and nation. `customer` is a scaling
    * table and stays un-hinted (PlanSpec forbids broadcast hints on those
    * — at 100 TB the equi-join shuffles and AQE may still broadcast at
    * small SF), while `nation` is a true dimension and broadcasts
    * explicitly. */
  def enrichedEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .join(Tables.customer(spark, dir).select(col("c_custkey"),
        col("c_mktsegment").as("segment"), col("c_nationkey")),
        col("user_id") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir).select(col("n_nationkey"),
        col("n_name").as("nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .select("event_id", "user_id", "event_type", "segment", "nation")
      .orderBy("event_id")

  val enrichedEventsSql: String =
    """SELECT e.event_id, e.user_id, e.event_type,
      |       c.c_mktsegment AS segment, n.n_name AS nation
      |FROM events e
      |JOIN customer c ON e.user_id = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |ORDER BY e.event_id""".stripMargin

  /** Session gap: events from the same user separated by more than this
    * close the session. */
  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Session boundaries via LAG — the [[SessionGapMs]] gap rule: an
    * event whose gap to the
    * same user's previous event exceeds the session gap STARTS a new
    * session. `lag` over (user, (ts, event_id)) is the one classic window
    * function the registry otherwise lacks; the (ts, event_id) ordering
    * is total, so the previous-row choice is deterministic on both
    * engines even with duplicate timestamps. Gap arithmetic stays in
    * exact integer microseconds — no float division to drift. */
  def sessionBoundaries(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "ts")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("prev_ts")))
      .filter(col("gap_us") > lit(SessionGapMs * 1000L))
      .select("event_id", "user_id", "gap_us")
      .orderBy("event_id")
  }

  /** Oracle note: events.parquet stores TIMESTAMP(NANOS); the Spark
    * loader truncates to microseconds, so the oracle must difference the
    * SAME µs integers — `epoch_us(CAST(ts AS TIMESTAMP))` truncates
    * ns → µs identically, and ordering by the truncated value (with the
    * event_id tie-break) keeps both engines' LAG rows aligned even for
    * events inside the same microsecond. */
  val sessionBoundariesSql: String =
    s"""SELECT event_id, user_id, gap_us FROM (
       |  SELECT event_id, user_id,
       |         t - LAG(t, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) AS gap_us
       |  FROM (SELECT event_id, user_id,
       |               epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events)
       |) WHERE gap_us > ${SessionGapMs * 1000L}
       |ORDER BY event_id""".stripMargin


  /** Per-session metrics: assign each event a session index (running
    * count of gap-rule boundaries over the user's ordered stream, same
    * [[SessionGapMs]] constant as [[sessionBoundaries]]), then one hash
    * aggregate per (user, session) with event count and exact-µs
    * duration. The per-user window is keyed on user_id — key cardinality
    * scales with the data, so no group ever exceeds one user's stream. */
  def sessionMetrics(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "ts")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        (col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
            lit(SessionGapMs * 1000L)).cast("long"))
      .withColumn("session_id", sum(col("new_s")).over(w))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("duration_us"))
      .orderBy("user_id", "session_id")
  }

  val sessionMetricsSql: String =
    s"""WITH t AS (
       |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events
       |), b AS (
       |  SELECT user_id, event_id, t,
       |         CASE WHEN t - LAG(t, 1) OVER w IS NULL
       |                OR t - LAG(t, 1) OVER w > ${SessionGapMs * 1000L}
       |              THEN 1 ELSE 0 END AS new_s
       |  FROM t
       |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
       |), s AS (
       |  SELECT user_id, t,
       |         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           AS session_id
       |  FROM b
       |)
       |SELECT user_id, session_id, count(*) AS n_events,
       |       max(t) - min(t) AS duration_us
       |FROM s GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin
}
