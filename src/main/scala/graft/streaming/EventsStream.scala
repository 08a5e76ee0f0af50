package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Tables

/** Open-session accumulator for the sessionizer (top-level so the state
  * encoder's generated code can construct it). */
final case class SessionState(start: Long, last: Long, n: Int)

/** Per-(user, day) rate-limiter state: admitted count plus the CUSUM-style
  * (micros, event_id) high-watermark that keeps cross-batch admission
  * order-exact (see [[EventsStream.streamingRateLimit]]). */
final case class RateLimitState(n: Int,
                                hwMicros: Long = Long.MinValue,
                                hwId: Long = Long.MinValue)

/** Per-user forward-fill state: the last observed value (with a
  * has-observation flag — state encoders want flat primitives) plus the
  * cross-batch (micros, event_id) high-watermark. */
final case class FillState(lastObs: Double, hasObs: Boolean,
                           hwMicros: Long = Long.MinValue,
                           hwId: Long = Long.MinValue)

/** Per-series CUSUM accumulator: the running prefix sum and running
  * prefix minimum, both in exact integer micro-units — O(1) state per
  * event type no matter how much history has streamed through.
  *
  * STATE-SCHEMA VERSION 2 (was 2 fields, now 4): the late-event
  * high-watermark fields (hwMicros, hwId) were added after the original
  * (p, m) shape shipped. Structured Streaming's state-store schema check
  * REJECTS a restart from a checkpoint written with the 2-field shape
  * (there is no migration path for flatMapGroupsWithState state), so a
  * long-lived deployment upgrading across that change must start from a
  * fresh checkpoint directory — [[EventsStream.CusumStateVersion]] is
  * provided so callers can suffix their checkpoint path / queryName with
  * it and make the break explicit instead of discovering it as an
  * opaque StateSchemaNotCompatible at restart. */
final case class CusumState(p: Long, m: Long,
                            hwMicros: Long = Long.MinValue,
                            hwId: Long = Long.MinValue)

/** Structured Streaming surface (SURVEY.md §2.10 notes the reference has
  * none — this is the beyond-reference streaming path for the events
  * table): a watermarked tumbling-window aggregation whose TRANSFORM is
  * shared verbatim between the batch entry (DuckDB-oracled) and the
  * readStream pipeline (MemoryStream-tested), plus a
  * flatMapGroupsWithState sessionizer for custom state.
  *
  * Scale notes: the windowed aggregation is a standard partial+final hash
  * aggregate keyed on (window, event_type); the watermark bounds state to
  * two hours of windows per key. Sessionization state is one small struct
  * per active user, dropped on timeout — both shapes hold at arbitrary
  * input rates.
  */
object EventsStream {

  /** Version of [[CusumState]]'s state-store schema. Bump on any field
    * change and suffix checkpoint locations for [[cusumDetect]] queries
    * with it (e.g. `.../cusum-v$CusumStateVersion`): Spark cannot migrate
    * flatMapGroupsWithState state across schema changes, so a versioned
    * path turns a restart-time StateSchemaNotCompatible crash into an
    * intentional fresh start. */
  val CusumStateVersion = 2

  /** The shared transform: tumbling 1-hour windows per event_type. Epoch-
    * aligned window boundaries ≡ date_trunc('hour'), which is the oracle
    * formulation. */
  def windowAggTransform(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 6).as("value_sum"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"), col("value_sum"))

  /** Batch entry (registered): the same transform over the parquet events
    * table, presentation-ordered. */
  def windowAgg(spark: SparkSession, dir: String): DataFrame =
    windowAggTransform(Tables.events(spark, dir))
      .orderBy("hour_start", "event_type")

  val windowAggSql: String =
    """SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |       count(*) AS n, round(sum(value), 6) AS value_sum
      |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin

  /** The streaming pipeline: identical transform behind a 2-hour
    * watermark; append-mode emits a window once the watermark passes its
    * end (late rows beyond the watermark are dropped — the usual
    * correctness/latency trade). */
  def streamingWindowAgg(events: DataFrame): DataFrame =
    windowAggTransform(events.withWatermark("ts", "2 hours"))

  /** Run the streaming aggregation from a streaming source to an
    * in-memory sink table; returns the query for the caller to manage. */
  def runToMemory(stream: DataFrame, table: String): org.apache.spark.sql.streaming.StreamingQuery =
    streamingWindowAgg(stream).writeStream
      .format("memory")
      .queryName(table)
      .outputMode(OutputMode.Append)
      .start()

  /** Sliding-window transform: 2-hour windows advancing every hour, per
    * event_type — the overlapping-window shape behind "last 2h" tiles
    * that refresh hourly. Epoch-aligned, so every event lands in EXACTLY
    * two windows: starts `date_trunc(hour, ts)` and that minus 1 hour
    * (the oracle formulation — a 2-element unnest, no window function).
    * The aggregate is still one partial+final hash aggregate keyed on
    * (window, type); the slide multiplies rows into the aggregate by
    * length/slide (2 here), a constant factor set by config, not data. */
  def slidingAggTransform(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 6).as("value_sum"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("value_sum"))

  /** Batch entry (registered): sliding windows over the parquet events. */
  def slidingWindowAgg(spark: SparkSession, dir: String): DataFrame =
    slidingAggTransform(Tables.events(spark, dir))
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

  /** Streaming twin: same transform behind the 2-hour watermark; state is
    * bounded at (watermark + window length) / slide windows per key. */
  def streamingSlidingAgg(events: DataFrame): DataFrame =
    slidingAggTransform(events.withWatermark("ts", "2 hours"))

  /** Spark's NATIVE gap-based sessionization — `session_window(ts, gap)`
    * — as a registered batch entry (the custom
    * flatMapGroupsWithState sessionizer above demonstrates arbitrary
    * state; this is the declarative operator you reach for FIRST, with
    * Catalyst planning the merge): per user, sessions close after a
    * 30-minute silence, window end = last event + gap.
    *
    * Semantics note for the oracle: session_window starts a NEW session
    * when an event lands exactly ON the previous window's end
    * (gap >= 30 min ⇒ break), while [[SessionGapMs]]'s custom rule
    * breaks only on gap > 30 min — the oracle encodes the native
    * operator's >= rule. Scale: one hash exchange on user_id, then
    * per-partition ordered merge inside the aggregate — the same
    * single-shuffle shape as the lag-based twin. */
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
  def denseHourlyAgg(spark: SparkSession, dir: String): DataFrame =
    denseHourlyAggFrom(Tables.events(spark, dir))

  /** The dense-grid kernel over any events frame — shared by the entry
    * and the streaming-interpolation pair spec, which drives it with the
    * twin's MemoryStream feed. */
  def denseHourlyAggFrom(events: DataFrame): DataFrame = {
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
  def linearInterpolate(spark: SparkSession, dir: String): DataFrame =
    linearInterpolateFrom(Tables.events(spark, dir))

  /** The interpolation kernel over any events frame — shared by the
    * entry and the streaming-twin pair spec. */
  def linearInterpolateFrom(events: DataFrame): DataFrame = {
    val dense = denseHourlyAggFrom(events)
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

  /** Ingest-time exact deduplication — the streaming twin of the corpus
    * dedup family: an at-least-once source (Kafka, redelivering log
    * shipper) re-delivers events, and the pipeline must keep exactly one
    * row per event_id.
    *
    * Batch entry (registered, oracle-gated): redelivery is simulated
    * deterministically (every event_id ≡ 0 mod 7 arrives twice) and
    * deduped by key. Duplicate rows are bit-identical, so keep-any ≡
    * keep-first and the result is deterministic. The dedup is a
    * hash-groupBy on the key — partial aggregation collapses duplicates
    * map-side, the shuffle carries one row per key per partition.
    *
    * Streaming path: `dropDuplicatesWithinWatermark` on the watermarked
    * stream — state holds one key per event inside the watermark horizon
    * and is dropped as the watermark passes (bounded by in-horizon
    * traffic, not stream history; the unwatermarked `dropDuplicates`
    * would grow state forever). MemoryStream-tested in EventsStreamSpec. */
  def ingestDedupTransform(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id")

  def ingestDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("event_id", "user_id", "ts", "event_type", "value")
    val redelivered = ev.unionAll(ev.filter(col("event_id") % 7 === 0))
    ingestDedupTransform(redelivered).orderBy("event_id")
  }

  val ingestDedupSql: String =
    """SELECT DISTINCT event_id, user_id, ts, event_type, value
      |FROM (SELECT * FROM events
      |      UNION ALL
      |      SELECT * FROM events WHERE event_id % 7 = 0)
      |ORDER BY event_id""".stripMargin

  /** The streaming dedup: exactly-once per event_id within the watermark
    * horizon. Append-mode emits each key's first-seen row immediately;
    * a redelivery later than the watermark bound is the documented
    * at-least-once residue (the usual state-size/completeness trade). */
  def streamingIngestDedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Attribution lookback: a purchase is attributed to the same user's
    * clicks within this many minutes before it. */
  val AttributionMinutes: Int = 30

  /** Click→purchase attribution — the STREAM-STREAM interval join shape
    * (two live streams joined on a key plus an event-time constraint),
    * the one Structured Streaming join family the registry otherwise
    * lacks. The shared transform is an equi-join on user_id with the
    * time bound as a residual predicate, so batch planning gets a
    * shuffle/broadcast HASH join (never a nested loop — pinned in
    * EventsStreamSpec) and streaming gets symmetric state buffers whose
    * retention the watermark + time bound derive: a buffered click can
    * be dropped once the watermark passes c_ts + lookback, a purchase
    * as soon as the watermark reaches it. Fan-out is bounded by per-user
    * in-window activity — at 100 TB the join shuffles on user_id and a
    * hot user costs its own pair count, never a cross product. */
  def clickAttributionTransform(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $AttributionMinutes MINUTES"))
      .select(col("p_id"), col("c_id"), col("p_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lag_us"))

  /** Batch entry (registered, oracle-gated): clicks and purchases are two
    * filtered scans of the events table; exact µs lag arithmetic. */
  def clickAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    clickAttributionTransform(clicks, purchases).orderBy("p_id", "c_id")
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

  /** The streaming twin: both sides watermarked (required for
    * stream-stream joins — the watermark plus the join's time bound let
    * Spark age out buffered rows instead of keeping both streams
    * forever); inner-join matches emit as soon as both sides arrive.
    * MemoryStream-tested against the batch transform. */
  def streamingClickAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clickAttributionTransform(
      clicks.withWatermark("c_ts", "1 hour"),
      purchases.withWatermark("p_ts", "1 hour"))

  /** Unattributed clicks — the LEFT-OUTER companion of the attribution
    * join: clicks followed by NO same-user purchase within the
    * [[AttributionMinutes]] lookahead, i.e. the abandonment feed a
    * remarketing pipeline consumes. The transform is a left-outer
    * interval join filtered to the null-extended side, shared verbatim
    * by the batch entry and the streaming twin.
    *
    * The streaming semantics are the interesting half (and the one
    * outer-join family the registry lacked): an INNER stream-stream join
    * can emit a match the moment both rows exist, but "no purchase
    * followed" is only decidable once the watermark passes the end of
    * the click's window — Structured Streaming buffers the click and
    * emits the null-extended row exactly then, which the MemoryStream
    * spec pins (nothing emits while the window is open; the unmatched
    * click emits exactly once after expiry; matched clicks never).
    *
    * Scale shape: identical to [[clickAttributionTransform]] — shuffle
    * on user_id, state retention derived from watermark + time bound;
    * the null-side filter is free. */
  def unattributedTransform(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"INTERVAL $AttributionMinutes MINUTES"),
      "left_outer")
      .filter(col("p_id").isNull)
      .select(col("c_id"), col("c_user").as("user_id"))

  /** Batch entry (registered, oracle-gated as NOT EXISTS). */
  def unattributedClicks(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    unattributedTransform(clicks, purchases).orderBy("c_id")
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

  /** The streaming twin: left-outer stream-stream interval join, both
    * sides watermarked (mandatory for outer emission — the watermark is
    * what proves a click's window closed empty). */
  def streamingUnattributedClicks(clicks: DataFrame, purchases: DataFrame): DataFrame =
    unattributedTransform(
      clicks.withWatermark("c_ts", "1 hour"),
      purchases.withWatermark("p_ts", "1 hour"))

  /** Stream-static enrichment — the streaming twin of fact building:
    * each event picks up its customer's market segment and nation. The
    * shared transform keeps the static sides un-hinted: `customer` is a
    * scaling table (PlanSpec forbids broadcast hints on those — at 100 TB
    * the stream-static equi-join shuffles per micro-batch and AQE may
    * still broadcast at small SF), while `nation` is a true dimension and
    * broadcasts explicitly. Stream-static inner equi-joins are STATELESS
    * in Structured Streaming — no watermark needed, each micro-batch
    * joins against the (re-readable) static relation and emits — which is
    * why enrichment belongs in the stream, not in a later batch repair
    * pass. */
  def enrichTransform(events: DataFrame, customer: DataFrame,
      nation: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"), col("event_type"))
      .join(customer.select(col("c_custkey"),
        col("c_mktsegment").as("segment"), col("c_nationkey")),
        col("user_id") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"),
        col("n_name").as("nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .select("event_id", "user_id", "event_type", "segment", "nation")

  /** Batch entry (registered, oracle-gated). */
  def enrichedEvents(spark: SparkSession, dir: String): DataFrame =
    enrichTransform(Tables.events(spark, dir), Tables.customer(spark, dir),
      Tables.nation(spark, dir)).orderBy("event_id")

  val enrichedEventsSql: String =
    """SELECT e.event_id, e.user_id, e.event_type,
      |       c.c_mktsegment AS segment, n.n_name AS nation
      |FROM events e
      |JOIN customer c ON e.user_id = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |ORDER BY e.event_id""".stripMargin

  /** The streaming twin: identical transform over a readStream source;
    * MemoryStream-tested against the batch transform. */
  def streamingEnrich(events: DataFrame, customer: DataFrame,
      nation: DataFrame): DataFrame =
    enrichTransform(events, customer, nation)

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class Session(user_id: Long, start: java.sql.Timestamp,
                           end: java.sql.Timestamp, n_events: Int)

  /** Session gap: events from the same user separated by more than this
    * close the session. */
  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Session boundaries via LAG — the batch twin of the sessionizer's gap
    * rule (same [[SessionGapMs]] constant): an event whose gap to the
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


  /** Per-session metrics — the aggregate view the sessionizer's output
    * feeds: assign each event a session index (running count of gap-rule
    * boundaries over the user's ordered stream, same [[SessionGapMs]]
    * constant as [[sessionBoundaries]] and the stateful sessionizer),
    * then one hash aggregate per (user, session) with event count and
    * exact-µs duration. The per-user window is keyed on user_id — key
    * cardinality scales with the data, so no group ever exceeds one
    * user's stream (the sessionizer's own state bound). */
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

  /** Shared per-batch state step: fold this batch's events (time-sorted)
    * into the open session, emitting every session the gap rule closes. */
  private def foldEvents(userId: Long, it: Iterator[Event],
      state: GroupState[SessionState]): Iterator[Session] = {
    val sorted = it.toSeq.sortBy(_.ts.getTime)
    var closed = List.empty[Session]
    var cur = state.getOption
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.last <= SessionGapMs =>
          cur = Some(s.copy(last = t, n = s.n + 1))
        case Some(s) =>
          closed ::= Session(userId, new java.sql.Timestamp(s.start),
            new java.sql.Timestamp(s.last), s.n)
          cur = Some(SessionState(t, t, 1))
        case None =>
          cur = Some(SessionState(t, t, 1))
      }
    }
    cur.foreach(state.update)
    closed.reverseIterator
  }

  /** flatMapGroupsWithState sessionizer: per-user state holds the open
    * session; an event beyond the gap closes and emits it.
    * KeyValueGroupedDataset custom state — the mapGroupsWithState surface
    * the brief calls for. Open sessions stay in state until a later event
    * closes them (timeout-free so test harness micro-batches drain
    * deterministically); [[sessionizeWithTimeout]] is the production
    * variant that also flushes idle users. */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          foldEvents(userId, it, state)
      }
  }

  /** Production sessionizer: same gap rule plus an event-time timeout —
    * a user idle past the session gap (relative to the stream's
    * watermark) has their open session flushed and state dropped, so
    * state size is bounded by ACTIVE users, not ever-seen users. The
    * input must carry a watermark (the caller picks the lateness bound);
    * the timeout timestamp is re-armed at (last event + gap) on every
    * update, and Spark fires the group with hasTimedOut once the
    * watermark passes it. */
  def sessionizeWithTimeout(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n))
          } else {
            val out = foldEvents(userId, it, state)
            state.getOption.foreach(s =>
              state.setTimeoutTimestamp(s.last + SessionGapMs))
            out
          }
      }
  }

  final case class UEvent(event_id: Long, user_id: Long,
                          ts: java.sql.Timestamp)

  private val DayMicros = 86400000000L

  /** Streaming twin of [[graft.analytics.Behavior.rateLimitEvents]] — the
    * token-bucket ingest throttle as per-key state: at most `n` events
    * admitted per (user, UTC day); everything past the cap drops at the
    * edge, which is the point of a rate limiter (the batch twin ranks and
    * filters AFTER landing the whole stream).
    *
    * Order discipline (the [[cusumDetect]] contract): within a
    * micro-batch events fold in (ts, event_id) order, and the state
    * carries that key's high-watermark so a LATE cross-batch event is
    * dropped rather than admitted out of order — the admitted set is
    * exactly the batch kernel's first-n over the in-order subsequence the
    * stream actually admitted (pair-tested in EventsStreamSpec).
    *
    * State lifecycle: one 3-field struct per ACTIVE (user, day) — the
    * event-time timeout fires once the watermark passes the day's end
    * plus an hour of slack and removes the bucket, so state is bounded by
    * in-horizon traffic, never by history. Input must carry a watermark
    * (the caller picks the lateness bound). */
  def streamingRateLimit(events: Dataset[UEvent],
      n: Int = graft.analytics.Behavior.RateLimitN): Dataset[UEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, epochMicros(e.ts) / DayMicros))
      .flatMapGroupsWithState[RateLimitState, UEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((_, dayIdx), it, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var RateLimitState(c, hwMicros, hwId) =
              state.getOption.getOrElse(RateLimitState(0))
            val kept = List.newBuilder[UEvent]
            it.toSeq.sortBy(e => (epochMicros(e.ts), e.event_id)).foreach { e =>
              val micros = epochMicros(e.ts)
              val late = micros < hwMicros ||
                (micros == hwMicros && e.event_id <= hwId)
              if (!late) {
                hwMicros = micros; hwId = e.event_id
                if (c < n) { c += 1; kept += e }
              }
            }
            state.update(RateLimitState(c, hwMicros, hwId))
            state.setTimeoutTimestamp((dayIdx + 1) * 86400000L + 3600000L)
            kept.result().iterator
          }
      }
  }

  final case class FEvent(event_id: Long, user_id: Long,
                          ts: java.sql.Timestamp, event_type: String,
                          value: Double)
  final case class FilledEvent(event_id: Long, user_id: Long,
                               event_type: String,
                               observed: Option[Double],
                               filled: Option[Double])

  /** Streaming twin of [[graft.analytics.Behavior.forwardFill]] — last
    * observation carried forward as per-user keyed state: each event is
    * emitted with the user's most recent purchase value (None before the
    * first), the online form of the batch `last(_, ignoreNulls)` window.
    * This is the feature-freshness shape a serving pipeline wants — the
    * fill is available the micro-batch the event arrives, not at the
    * next batch window pass.
    *
    * State is TWO fields per user (value + flag) plus the high-watermark
    * pair — the [[cusumDetect]] order discipline again: in-batch
    * (ts, event_id) sort, late cross-batch events dropped (folding one
    * late observation would silently rewrite the fill history the batch
    * twin would compute). The observed value is rounded to 6dp with the
    * same HALF_UP rule as the batch entry, so on in-order feeds the
    * stream's rows equal the batch window fill exactly (pair-tested).
    *
    * State lifecycle: LOCF semantics make expiry a judgment call — the
    * batch twin carries a fill forward forever, so the default
    * (`fillTtl = None`) keeps state per EVER-SEEN user, bounded only by
    * user cardinality (~tens of bytes/user; at 10⁹ users that is tens of
    * GB across the cluster — viable but unbounded over time). Pass
    * `fillTtl = Some(horizon)` to trade exactness-after-a-gap for
    * bounded state: the event-time timeout drops a user's fill once the
    * watermark passes their last event plus the horizon, so a
    * re-appearing user fills from None again — the "don't serve a
    * feature staler than X" contract a serving pipeline usually wants
    * anyway. Input must carry a watermark when a TTL is set. */
  def streamingForwardFill(events: Dataset[FEvent],
      fillTtl: Option[java.time.Duration] = None): Dataset[FilledEvent] = {
    import events.sparkSession.implicits._
    val ttlMillis = fillTtl.map(_.toMillis)
    val timeoutConf =
      if (ttlMillis.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FillState, FilledEvent](
        OutputMode.Append, timeoutConf) {
        (user: Long, it: Iterator[FEvent], state: GroupState[FillState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var FillState(last, has, hwMicros, hwId) =
              state.getOption.getOrElse(FillState(0.0, hasObs = false))
            val out = List.newBuilder[FilledEvent]
            it.toSeq.sortBy(e => (epochMicros(e.ts), e.event_id)).foreach { e =>
              val micros = epochMicros(e.ts)
              val late = micros < hwMicros ||
                (micros == hwMicros && e.event_id <= hwId)
              if (!late) {
                hwMicros = micros; hwId = e.event_id
                val obs =
                  if (e.event_type == "purchase")
                    Some(java.math.BigDecimal.valueOf(e.value)
                      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue)
                  else None
                obs.foreach { v => last = v; has = true }
                out += FilledEvent(e.event_id, user, e.event_type, obs,
                  if (has) Some(last) else None)
              }
            }
            state.update(FillState(last, has, hwMicros, hwId))
            // expire at last-event-time + horizon; clamp above the current
            // watermark (Spark rejects a timeout at/behind it)
            ttlMillis.foreach { t =>
              state.setTimeoutTimestamp(
                math.max(hwMicros / 1000L + t, state.getCurrentWatermarkMs + 1L))
            }
            out.result().iterator
          }
      }
  }

  /** One not-yet-finalized hour of a key's interpolation state: the hour
    * bucket start, the EXACT decimal sum of observed values (kept as the
    * BigDecimal string — exact addition is order-proof across batches and
    * replays), and the observation count. */
  final case class InterpPending(hourMicros: Long, sumDec: String, n: Long)
  final case class InterpState(pending: List[InterpPending],
                               lastHourMicros: Long, lastMean: Double,
                               hasLast: Boolean)
  final case class InterpFill(event_type: String,
                              hour_start: java.sql.Timestamp,
                              n: Long, value_interp: Double)

  /** Bounded-lateness streaming linear interpolation — the online twin of
    * [[linearInterpolate]] (VERDICT r15 #8), and the one analytic whose
    * batch form needs FUTURE observations: a gap hour's fill is the
    * straight line between the surrounding observed hourly means, so it
    * cannot be emitted until the right endpoint is known AND can no
    * longer change. The watermark provides exactly that bound: an hour
    * finalizes when the watermark passes its end (no in-hour or in-gap
    * observation can still arrive), and finalizing an observed hour
    * emits the gap hours since the previous observed hour — each fill
    * appears once, `delay + gap-length` after the gap opened, the
    * latency/lateness trade `withWatermark` names.
    *
    * Same kernel math as the batch entry: per-hour means are the 6dp
    * HALF_UP round of `value_sum / n` (sums accumulate in exact decimal
    * — order-proof across batches, stricter than the batch double sum
    * and equal to it whenever the feed's values are binary-exact, which
    * the pair spec pins), gap fractions are the same epoch-second double
    * ratio, and fills round through the identical `round(x*1e6)/1e6`
    * sequence. Events at or behind a key's finalized frontier are
    * dropped ([[cusumDetect]]'s late discipline); edge hours before a
    * key's first observation are unemittable online (the batch grid's
    * leading NULLs need the GLOBAL corpus bounds) and carry no value in
    * the batch result either.
    *
    * State discipline: per event_type (enum-bounded key domain), the
    * state is the open hours' (sum, n) plus one (hour, mean) frontier —
    * open hours are bounded by the watermark horizon (an hour closes
    * one delay after it ends), so state is O(horizon/1h) rows per key,
    * never history-sized. An event-time timeout at the earliest open
    * hour's end finalizes quiet keys without waiting for their next
    * event. */
  def streamingInterpolate(events: Dataset[FEvent]): Dataset[InterpFill] = {
    import events.sparkSession.implicits._
    val HourMicros = 3600L * 1000000L
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x * 1e6)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue / 1e6
    def tsOf(micros: Long) = new java.sql.Timestamp(micros / 1000L)
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[InterpState, InterpFill](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (etype: String, it: Iterator[FEvent], state: GroupState[InterpState]) =>
          val st = state.getOption
            .getOrElse(InterpState(Nil, 0L, 0.0, hasLast = false))
          var pending: Map[Long, (java.math.BigDecimal, Long)] =
            st.pending
              .map(p => p.hourMicros -> (new java.math.BigDecimal(p.sumDec), p.n))
              .toMap
          if (!state.hasTimedOut) it.foreach { e =>
            val h = Math.floorDiv(epochMicros(e.ts), HourMicros) * HourMicros
            // at/behind the finalized frontier = late beyond the
            // watermark contract — dropped, not folded out of order
            if (!(st.hasLast && h <= st.lastHourMicros)) {
              val (s0, n0) =
                pending.getOrElse(h, (java.math.BigDecimal.ZERO, 0L))
              pending = pending
                .updated(h, (s0.add(java.math.BigDecimal.valueOf(e.value)), n0 + 1))
            }
          }
          val wmMicros = state.getCurrentWatermarkMs * 1000L
          val (closed, open) = pending.toSeq.sortBy(_._1)
            .partition { case (h, _) => h + HourMicros <= wmMicros }
          var lastH = st.lastHourMicros
          var lastM = st.lastMean
          var hasLast = st.hasLast
          val out = List.newBuilder[InterpFill]
          closed.foreach { case (h, (sum, n)) =>
            val valueSum =
              sum.setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
            val mean = round6(valueSum / n)
            if (hasLast) {
              val phSec = lastH / 1000000L
              val nhSec = h / 1000000L
              var g = lastH + HourMicros
              while (g < h) {
                val frac =
                  (g / 1000000L - phSec).toDouble / (nhSec - phSec).toDouble
                out += InterpFill(etype, tsOf(g), 0L,
                  round6(lastM + (mean - lastM) * frac))
                g += HourMicros
              }
            }
            out += InterpFill(etype, tsOf(h), n, mean)
            lastH = h; lastM = mean; hasLast = true
          }
          state.update(InterpState(
            open.map { case (h, (s, n)) =>
              InterpPending(h, s.toPlainString, n)
            }.toList,
            lastH, lastM, hasLast))
          // finalize quiet keys: wake when the watermark passes the
          // earliest open hour's end (clamped above the current watermark
          // — Spark rejects a timeout at/behind it)
          open.headOption.foreach { case (h, _) =>
            state.setTimeoutTimestamp(
              math.max((h + HourMicros) / 1000L,
                state.getCurrentWatermarkMs + 1L))
          }
          out.result().iterator
      }
  }

  final case class VEvent(event_id: Long, event_type: String,
                          ts: java.sql.Timestamp, value: Double)
  final case class CusumAlert(event_type: String, event_id: Long,
                              ts: java.sql.Timestamp, cusum: Double)

  private[graft] def epochMicros(ts: java.sql.Timestamp): Long = {
    val i = ts.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  /** Streaming CUSUM drift detector — the ONLINE form of
    * [[graft.analytics.Stats.cusumAlerts]]: per event type, fold each
    * micro-batch's events (time-ordered) into the running prefix
    * sum/minimum and emit an alert row whenever
    * S = P − min(0, min-prefix P) crosses `h`. Page's detector is
    * inherently sequential, which is exactly what per-key streaming
    * state is for: the batch twin needs a two-phase prefix-sum kernel
    * to distribute the same recursion; here it is two longs per key.
    *
    * Arithmetic is EXACT integer micro-units: each deviation is rounded
    * to 6dp with the same HALF_UP rule Spark's `round` applies, then
    * scaled to a long — so the stream's alert set is bit-identical to
    * the batch backtest's (pair-tested in EventsStreamSpec), not
    * float-drift-close. `target` maps each series to its in-control
    * mean μ (the batch entry derives it from history; a deployment
    * would pin it from a reference window).
    *
    * Late data: Page's recursion is order-dependent, so folding an
    * event that arrives in a LATER micro-batch with an EARLIER
    * timestamp would silently diverge from the batch backtest. The
    * state therefore carries a per-key high-watermark — the (micros,
    * event_id) key of the last event folded — and any event at or
    * below it is DROPPED, never folded out of order. Within a
    * micro-batch events are sorted by that same key, so the detector
    * is exactly the batch fold over the in-order subsequence it
    * actually admitted. */
  def cusumDetect(events: Dataset[VEvent], target: Map[String, Double],
      h: Double = graft.analytics.Stats.CusumH): Dataset[CusumAlert] = {
    import events.sparkSession.implicits._
    val slack = graft.analytics.Stats.CusumSlackFrac
    val hMicro = java.math.BigDecimal.valueOf(h)
      .movePointRight(6).longValueExact()
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (tpe: String, it: Iterator[VEvent], state: GroupState[CusumState]) =>
          val mu = target.getOrElse(tpe, 0.0)
          var CusumState(p, m, hwMicros, hwId) = state.getOption.getOrElse(
            CusumState(0L, Long.MaxValue))
          val alerts = List.newBuilder[CusumAlert]
          it.toSeq.sortBy(e => (epochMicros(e.ts), e.event_id)).foreach { e =>
            val micros = epochMicros(e.ts)
            val late = micros < hwMicros ||
              (micros == hwMicros && e.event_id <= hwId)
            if (!late) {
              hwMicros = micros; hwId = e.event_id
              val dMicro = java.math.BigDecimal
                .valueOf(e.value - mu * (1.0 + slack))
                .setScale(6, java.math.RoundingMode.HALF_UP)
                .movePointRight(6).longValueExact()
              p += dMicro
              m = math.min(m, p)
              val s = p - math.min(0L, m)
              if (s > hMicro)
                alerts += CusumAlert(tpe, e.event_id, e.ts, s.toDouble / 1e6)
            }
          }
          state.update(CusumState(p, m, hwMicros, hwId))
          alerts.result().iterator
      }
  }

  /** Streaming heavy hitters — the native [[graft.functions.MisraGries]]
    * TypedImperativeAggregate inside a watermarked tumbling-window
    * streaming aggregation: per hour, the approximate top event types
    * with guaranteed-error counts. The aggregate's mergeable fixed-k
    * summaries are exactly what streaming state wants — each window
    * holds ≤ k counters per key no matter the rate, micro-batch partials
    * merge associatively, and the window finalizes when the watermark
    * passes (Append mode). The same expression drives the batch entry
    * (`heavy_hitters_check`), so stream and batch share one kernel. */
  def streamingHeavyHitters(events: DataFrame, k: Int = 4): DataFrame = {
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.functions.MisraGries.of(col("event_type"), k).as("sketch"))
      .select(col("w.start").as("hour_start"), explode(col("sketch"))
        .as(Seq("event_type", "min_count")))
  }
}
