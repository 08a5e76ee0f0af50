package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.RunScope.ScratchCacheOps

/** Behavioral event analytics — the funnel and cohort-retention queries a
  * product-analytics engine answers over the events stream (beyond-
  * reference surface): both are pure conditional-aggregation dataflow,
  * keyed on the user, with no per-user state beyond a handful of
  * timestamps.
  *
  * Scale notes: every aggregate here is keyed on user_id or a
  * (week, offset) cell — mergeable map-side partials at any event volume.
  * The funnel's stage chaining is two user-keyed joins of per-user 1-row
  * frames (shuffles of user-cardinality rows, not events); the retention
  * matrix is cohort-weeks × offsets cells, config-bounded output.
  */
object Behavior {

  /** Strict three-stage funnel (view → click → purchase): a user
    * converts at a stage only with a strictly LATER event than their
    * previous stage's first touch — first view, first click after that
    * view, first purchase after that click. Emits one row per stage with
    * the surviving user count and the step conversion ratio. */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val tv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("tv"))
    val tc = ev.filter(col("event_type") === "click")
      .join(tv, "user_id").filter(col("ts") > col("tv"))
      .groupBy("user_id").agg(min(col("ts")).as("tc"))
    val tp = ev.filter(col("event_type") === "purchase")
      .join(tc, "user_id").filter(col("ts") > col("tc"))
      .groupBy("user_id").agg(min(col("ts")).as("tp"))
    val c = tv.agg(count(lit(1)).as("nv"))
      .crossJoin(tc.agg(count(lit(1)).as("nc")))
      .crossJoin(tp.agg(count(lit(1)).as("np")))
    c.select(explode(array(
        struct(lit(1).as("stage_order"), lit("view").as("stage"),
          col("nv").as("n_users"), lit(null).cast("double").as("conversion")),
        // Empty prior stage: Spark's x/0 yields NULL but DuckDB's IEEE
        // division yields inf/NaN — nullif-style guards pin both engines
        // to NULL conversion on an empty divisor.
        struct(lit(2).as("stage_order"), lit("click").as("stage"),
          col("nc").as("n_users"),
          round(col("nc").cast("double") / when(col("nv") > 0, col("nv")), 6)
            .as("conversion")),
        struct(lit(3).as("stage_order"), lit("purchase").as("stage"),
          col("np").as("n_users"),
          round(col("np").cast("double") / when(col("nc") > 0, col("nc")), 6)
            .as("conversion"))))
        .as("r"))
      .select(col("r.stage_order"), col("r.stage"), col("r.n_users"),
        col("r.conversion"))
      .orderBy("stage_order")
  }

  val eventsFunnelSql: String =
    """WITH tv AS (
      |  SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1
      |), tc AS (
      |  SELECT e.user_id, min(e.ts) AS t
      |  FROM events e JOIN tv ON e.user_id = tv.user_id AND e.ts > tv.t
      |  WHERE e.event_type = 'click' GROUP BY 1
      |), tp AS (
      |  SELECT e.user_id, min(e.ts) AS t
      |  FROM events e JOIN tc ON e.user_id = tc.user_id AND e.ts > tc.t
      |  WHERE e.event_type = 'purchase' GROUP BY 1
      |), c AS (
      |  SELECT (SELECT count(*) FROM tv) AS nv,
      |         (SELECT count(*) FROM tc) AS nc,
      |         (SELECT count(*) FROM tp) AS np
      |)
      |SELECT 1 AS stage_order, 'view' AS stage, nv AS n_users,
      |       CAST(NULL AS DOUBLE) AS conversion FROM c
      |UNION ALL
      |SELECT 2, 'click', nc, round(CAST(nc AS DOUBLE) / nullif(nv, 0), 6) FROM c
      |UNION ALL
      |SELECT 3, 'purchase', np, round(CAST(np AS DOUBLE) / nullif(nc, 0), 6) FROM c
      |ORDER BY stage_order""".stripMargin

  /** Weekly cohort retention — users grouped by the ISO week of their
    * FIRST event; a cohort's retention at offset k is the share of its
    * users active in cohort_week + k. Week truncation is Monday-based
    * `date_trunc('week', …)` on both engines, and the offset divides an
    * exact multiple of 7 days, so the matrix cells agree exactly. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "ts")
    val cohort = ev.groupBy("user_id")
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
    val active = ev.select(col("user_id"),
      to_date(date_trunc("week", col("ts"))).as("active_week")).distinct()
    val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    cohort.join(active, "user_id")
      .select(col("cohort_week"),
        (datediff(col("active_week"), col("cohort_week")) / 7)
          .cast("long").as("week_offset"))
      .groupBy("cohort_week", "week_offset").agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 6)
          .as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  val retentionCohortsSql: String =
    """WITH cohort AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      |  FROM events GROUP BY user_id
      |), active AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
      |  FROM events
      |), sizes AS (
      |  SELECT cohort_week, count(*) AS cohort_size FROM cohort GROUP BY cohort_week
      |), cells AS (
      |  SELECT c.cohort_week,
      |         CAST(date_diff('day', c.cohort_week, a.active_week) / 7 AS BIGINT)
      |           AS week_offset,
      |         count(*) AS n_active
      |  FROM cohort c JOIN active a ON c.user_id = a.user_id
      |  GROUP BY 1, 2
      |)
      |SELECT cells.cohort_week AS cohort_week, week_offset, n_active, cohort_size,
      |       round(CAST(n_active AS DOUBLE) / cohort_size, 6) AS retention
      |FROM cells JOIN sizes ON cells.cohort_week = sizes.cohort_week
      |ORDER BY cells.cohort_week, week_offset""".stripMargin

  /** Inter-arrival-time quantiles — median and p90 of the gap between a
    * user's consecutive events, grouped by the arriving event's type: the
    * latency profile behind engagement models and session-gap tuning
    * (the 30-minute session gap should sit far beyond these
    * quantiles). Gaps are computed with LAG over each USER's ordered
    * stream (key cardinality scales with the data — never a few-group
    * window), in exact integer microseconds; the per-TYPE quantiles then
    * run through [[Quantiles.groupedQuantiles]] — the two-phase kernel's
    * fourth consumer — because event types are few and corpus-sized, the
    * exact shape a naive per-type window sort dies on. */
  def interarrivalQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "ts")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // gaps in SECONDS: at µs magnitudes (~1e10) the 6dp rounding falls
    // below a double's ulp and a 1-ulp interpolation difference between
    // engines flips the last digit; seconds (~1e5) keep 6dp well inside
    // double precision. Exact µs long ÷ the same literal on both engines
    // yields identical doubles.
    val gaps = ev
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .filter(col("gap_us").isNotNull)
      .select(col("event_type"),
        (col("gap_us").cast("double") / lit(1000000.0)).as("gap_s"))
    Quantiles.groupedQuantiles(gaps, "event_type", "gap_s",
        Seq("q50" -> 0.5, "q90" -> 0.9))
      .orderBy("event_type")
  }

  val interarrivalQuantilesSql: String =
    """WITH t AS (
      |  SELECT event_id, user_id, event_type,
      |         epoch_us(CAST(ts AS TIMESTAMP)) AS t
      |  FROM events
      |), g AS (
      |  SELECT event_type,
      |         CAST(t - LAG(t, 1) OVER (PARTITION BY user_id
      |           ORDER BY t, event_id) AS DOUBLE) / 1000000.0 AS gap_s
      |  FROM t
      |)
      |SELECT event_type, count(*) AS n,
      |       round(quantile_cont(gap_s, 0.5), 6) AS q50,
      |       round(quantile_cont(gap_s, 0.9), 6) AS q90
      |FROM g WHERE gap_s IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Latest event per user as an ARGMAX AGGREGATE — the scalable
    * "current state per key" kernel (last-touch attribution, mutable-view
    * compaction, CDC latest-wins). The naive shape is a row_number
    * window over `Window.partitionBy(user).orderBy(ts desc)`, which
    * ships EVERY event through the shuffle and sorts whole reduce
    * partitions; this instead folds each map partition to ONE candidate
    * row per user BEFORE the exchange (`partial_max`, pinned by
    * BehaviorSpec), so the shuffle carries per-(task, user) summaries,
    * never events — the part that decides survival at 100 TB. Spark
    * plans the struct max as a SortAggregate (struct buffers aren't
    * hash-aggregable), i.e. a partition-LOCAL sort by user on each side
    * of the exchange — same local-sort cost class as `max_by` with any
    * non-primitive argument, and strictly less data moved than the
    * window. `max(struct(...))` over three `max_by` calls because one
    * buffer carries ALL wanted columns, and the struct's lexicographic
    * compare gives the deterministic tiebreak for free: (ts, event_id)
    * is a total order (event_id unique), so later fields never decide.
    * The DuckDB oracle mirrors with a named-struct `max` (its `max_by`
    * has no composite key form). */
  def latestEventPerUser(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("event_id").isNotNull)
    e.groupBy("user_id")
      .agg(
        max(struct(col("ts"), col("event_id"), col("event_type"), col("value"))).as("s"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("s.ts").as("last_ts"), col("s.event_id").as("last_event_id"),
        col("s.event_type").as("last_type"), col("s.value").as("last_value"),
        col("n_events"))
      .orderBy("user_id")
  }

  val latestEventPerUserSql: String =
    """WITH m AS (
      |  SELECT user_id,
      |         max({'ts': ts, 'event_id': event_id,
      |              'event_type': event_type, 'value': value}) AS s,
      |         count(*) AS n_events
      |  FROM events
      |  WHERE ts IS NOT NULL AND event_id IS NOT NULL
      |  GROUP BY user_id
      |)
      |SELECT user_id, s.ts AS last_ts, s.event_id AS last_event_id,
      |       s.event_type AS last_type, s.value AS last_value, n_events
      |FROM m ORDER BY user_id""".stripMargin

  /** Per-key-per-window cap for [[rateLimitEvents]]. */
  private val RateLimitN = 3

  /** Ingestion rate limiting — keep only the FIRST [[RateLimitN]] events
    * per (user, day) and drop the rest: the bot/spam throttle every
    * event pipeline applies before counting anything. Arrival order
    * inside the day is (ts, event_id) — event_id breaks equal-timestamp
    * ties so the kept set is deterministic. (Day, not hour: on this
    * corpus the hourly cells never exceed the cap, which would leave the
    * drop path dead — the daily cells exceed it in the hundreds, so the
    * oracle gates both keep and drop behavior.)
    *
    * Shape at 100 TB: rank-≤-N on a composite key is exactly the
    * WindowGroupLimit shape (see `domain_cap`): Spark pushes the limit
    * BELOW the shuffle, so each map task forwards at most N rows per
    * (user, day) group it sees and the exchange carries survivors, not
    * the event stream. Output is capped at N × active (user, day)
    * cells regardless of how hot a key gets. */
  def rateLimitEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .select(col("event_id"), col("user_id"),
        date_trunc("day", col("ts")).as("day_start"),
        col("ts"), col("event_type"))
    val w = Window.partitionBy(col("user_id"), col("day_start"))
      .orderBy(col("ts"), col("event_id"))
    ev.withColumn("seq", row_number().over(w).cast("long"))
      .filter(col("seq") <= RateLimitN)
      .orderBy("event_id")
  }

  val rateLimitEventsSql: String =
    s"""SELECT event_id, user_id, date_trunc('day', ts) AS day_start, ts, event_type,
       |       CAST(row_number() OVER (
       |         PARTITION BY user_id, date_trunc('day', ts)
       |         ORDER BY ts, event_id) AS BIGINT) AS seq
       |FROM events
       |WHERE ts IS NOT NULL
       |QUALIFY seq <= $RateLimitN
       |ORDER BY event_id""".stripMargin

  /** Cumulative distinct users by day — the "total audience ever seen"
    * growth curve every product dashboard opens with. Computed WITHOUT a
    * running COUNT(DISTINCT) window (which would re-deduplicate the
    * whole prefix per day): each user collapses to their FIRST-seen day
    * under one user-keyed aggregate, first-seen days collapse to
    * per-day new-user counts, and the cumulative sum runs over the
    * day-cardinality frame only.
    *
    * Shape at 100 TB: the only event-volume shuffle is the user-keyed
    * min(day) aggregate (mergeable partials, map-side combine); the
    * global cumulative window sorts day-count rows — dimension-sized by
    * construction, never the event stream (the `q1_ratio_rank`
    * discipline). */
  def cumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val daily = ev.groupBy("user_id").agg(min(col("d")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    daily
      .withColumn("cum_users",
        sum(col("new_users")).over(Window.orderBy("day")).cast("long"))
      .orderBy("day")
  }

  val cumulativeUsersSql: String =
    """WITH first_seen AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS day
      |  FROM events WHERE ts IS NOT NULL GROUP BY user_id
      |),
      |daily AS (SELECT day, count(*) AS new_users FROM first_seen GROUP BY day)
      |SELECT day, new_users,
      |       CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cum_users
      |FROM daily ORDER BY day""".stripMargin

  /** Markov transition matrix over per-user event sequences — for each
    * ordered pair (prev event type → next event type), how often it
    * occurs and the conditional probability P(next | prev): the
    * first-order behavioral model product analytics fits before any
    * sequence mining, and the input to "what do users do after X?".
    *
    * Shape at 100 TB: the lag window is PARTITIONED BY user — each
    * window partition is one user's events (bounded per key, never
    * global), so the sort cost is per-user and parallel. The adjacency
    * pairs then collapse under a type×type hash aggregate (mergeable
    * partials, vocab² ≤ 25 output rows here), and the probability
    * normalization is a window over that dimension-sized matrix — the
    * `q1_ratio_rank` discipline: windows over aggregates, not events.
    * Ordering inside a user is (ts, event_id) — a total order, so the
    * adjacency pairs are deterministic under equal timestamps. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
    val counts = pairs.groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val norm = Window.partitionBy(col("prev_type"))
    counts
      .withColumn("p_next",
        round(col("n_transitions").cast("double") /
          sum(col("n_transitions")).over(norm), 6))
      .orderBy("prev_type", "next_type")
  }

  val eventTransitionsSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |           AS prev_type
      |  FROM events WHERE ts IS NOT NULL
      |),
      |counts AS (
      |  SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
      |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
      |)
      |SELECT prev_type, next_type, n_transitions,
      |       round(CAST(n_transitions AS DOUBLE) /
      |             sum(n_transitions) OVER (PARTITION BY prev_type), 6) AS p_next
      |FROM counts ORDER BY prev_type, next_type""".stripMargin

  /** Event-type co-occurrence (market-basket over users) — for each
    * unordered pair of event types, how many users did BOTH, with the
    * lift statistic lift(a,b) = N·n_both / (n_a·n_b): lift > 1 means
    * the behaviors attract, < 1 they repel. The association-mining
    * primitive behind "users who X also Y".
    *
    * Shape at 100 TB: the event stream first collapses to DISTINCT
    * (user, type) — a mergeable dedup-aggregate keyed on the pair, the
    * only event-volume shuffle. The per-user self-join then expands each
    * user to at most C(vocab, 2) pairs (vocab = event-type cardinality,
    * small by definition — here ≤ 5 → ≤ 10 pairs/user), which collapse
    * under a pair-keyed count. Per-type user counts and the user total
    * are vocab-row / 1-row frames broadcast onto the 10-row pair table —
    * never a fact-side shuffle. */
  def eventCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val pairs = ut.as("a")
      .join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    val perType = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_type"))
    val total = ut.select(countDistinct(col("user_id")).as("n_users"))
    pairs
      .join(broadcast(perType.withColumnRenamed("event_type", "type_a")
        .withColumnRenamed("n_type", "n_a")), "type_a")
      .join(broadcast(perType.withColumnRenamed("event_type", "type_b")
        .withColumnRenamed("n_type", "n_b")), "type_b")
      .crossJoin(broadcast(total))
      .select(col("type_a"), col("type_b"), col("n_both"),
        round(col("n_both").cast("double") * col("n_users") /
          (col("n_a") * col("n_b")), 6).as("lift"))
      .orderBy("type_a", "type_b")
  }

  val eventCooccurrenceSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
      |  FROM ut a JOIN ut b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2
      |),
      |per_type AS (SELECT event_type, count(*) AS n_type FROM ut GROUP BY 1),
      |total AS (SELECT count(DISTINCT user_id) AS n_users FROM ut)
      |SELECT type_a, type_b, n_both,
      |       round(CAST(n_both AS DOUBLE) * n_users / (pa.n_type * pb.n_type), 6)
      |         AS lift
      |FROM pairs
      |JOIN per_type pa ON pa.event_type = type_a
      |JOIN per_type pb ON pb.event_type = type_b
      |CROSS JOIN total
      |ORDER BY type_a, type_b""".stripMargin

  /** Forward fill (last observation carried forward) — only purchase
    * events carry an observed amount on this corpus model; every event
    * then sees the user's most recent purchase value (NULL before the
    * first purchase). The sparse-to-dense gap-filling every feature
    * pipeline runs before a model join.
    *
    * Shape at 100 TB: one window, PARTITIONED BY user and ordered by
    * (ts, event_id) — a per-key sorted pass with bounded partitions,
    * exactly what `last(_, ignoreNulls)` over ROWS UNBOUNDED PRECEDING
    * compiles to; no self-join, no global sort. The observation mask is
    * a codegen'd projection over the scan. */
  def forwardFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "purchase", round(col("value"), 6))
          .as("observed"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("filled", last(col("observed"), ignoreNulls = true).over(w))
      .select("event_id", "user_id", "event_type", "observed", "filled")
      .orderBy("event_id")
  }

  val forwardFillSql: String =
    """SELECT event_id, user_id, event_type,
      |       CASE WHEN event_type = 'purchase' THEN round(value, 6) END AS observed,
      |       last_value(CASE WHEN event_type = 'purchase' THEN round(value, 6) END
      |                  IGNORE NULLS)
      |         OVER (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM events WHERE ts IS NOT NULL
      |ORDER BY event_id""".stripMargin

  /** Chi-square independence cells — is event type independent of the
    * payload's k-parity? The contingency-table screen an analyst runs
    * before trusting a segmentation: observed vs expected count per
    * (type, parity) cell plus each cell's χ² contribution (the statistic
    * is their sum; dof = (types−1)(parities−1)).
    *
    * Shape at 100 TB: one hash aggregate over the events scan builds the
    * vocab×2 contingency table (mergeable counts, map-side combine); the
    * marginals and expected counts are windows over that dimension-sized
    * table — never a second pass over the data. The parity extraction is
    * a codegen'd regexp projection. */
  def chiSquareIndependence(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        (regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long") % 2)
          .as("k_parity"))
      .filter(col("k_parity").isNotNull)
    val cells = ev.groupBy("event_type", "k_parity")
      .agg(count(lit(1)).as("observed"))
    val rowW = Window.partitionBy(col("event_type"))
    val colW = Window.partitionBy(col("k_parity"))
    val allW = Window.partitionBy()
    cells
      .withColumn("expected",
        round(sum(col("observed")).over(rowW).cast("double") *
          sum(col("observed")).over(colW) /
          sum(col("observed")).over(allW), 6))
      .withColumn("chi2_cell",
        round(pow(col("observed") - col("expected"), 2) / col("expected"), 6))
      .orderBy("event_type", "k_parity")
  }

  val chiSquareIndependenceSql: String =
    """WITH cells AS (
      |  SELECT event_type,
      |         CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 2
      |           AS k_parity,
      |         count(*) AS observed
      |  FROM events
      |  WHERE CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) % 2
      |          IS NOT NULL
      |  GROUP BY 1, 2
      |),
      |ex AS (
      |  SELECT event_type, k_parity, observed,
      |         round(CAST(sum(observed) OVER (PARTITION BY event_type) AS DOUBLE)
      |               * sum(observed) OVER (PARTITION BY k_parity)
      |               / sum(observed) OVER (), 6) AS expected
      |  FROM cells
      |)
      |SELECT event_type, k_parity, observed, expected,
      |       round(pow(observed - expected, 2) / expected, 6) AS chi2_cell
      |FROM ex ORDER BY event_type, k_parity""".stripMargin

  /** Per-user behavioral diversity — Shannon entropy (bits) of each
    * user's event-type distribution: 0 = monotype bot-like behavior,
    * log₂(#types) = uniform engagement. The segmentation feature a
    * personalization or abuse model consumes alongside RFM.
    *
    * Scale shape: two chained user-keyed counter aggregates (events →
    * (user, type) cells → per-user rollup) plus one user-keyed equi-join
    * of cell rows against per-user totals — cells are ≤ #types per user,
    * so everything past the first aggregate is user-cardinality-sized.
    *
    * Determinism: each cell's −p·log₂p term is rounded to 6dp and summed
    * as DECIMAL(18,6), so partial-aggregation order cannot change the
    * result (the repo-wide decimal-sum rule); cross-engine log₂ ulp
    * differences sit ~9 orders of magnitude inside the rounding step.
    * The entropy IS the exact decimal sum — no trailing division, no
    * second rounding. */
  def userEventEntropy(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
    val totals = cells.groupBy("user_id")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"))
    val p = col("c").cast("double") / col("n")
    cells.join(totals, "user_id")
      .withColumn("term",
        round(-p * log2(p), 6).cast("decimal(18,6)"))
      .groupBy("user_id")
      .agg(first(col("n")).as("n_events"), first(col("n_types")).as("n_types"),
        sum(col("term")).cast("double").as("entropy_bits"))
      .orderBy("user_id")
  }

  /** Event types pivoted by [[userTypeMatrix]] — passed EXPLICITLY so
    * the pivot plans as ONE aggregate with five conditional counters.
    * A pivot without a value list first runs a corpus-wide DISTINCT to
    * discover columns (a second job + an unbounded schema) — the 100 TB
    * anti-pattern this literal exists to avoid. */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Per-user event-type feature matrix — one row per user, one count
    * column per event type: the wide feature shape an ML training or
    * segmentation job consumes directly (the events twin of the ETL
    * melt/pivot pair, on the behavioral axis).
    *
    * Scale shape: exactly one user-keyed hash aggregate; each counter
    * is a codegen'd conditional count with map-side partials. Absent
    * cells are 0, not NULL (a feature matrix has no missing cells,
    * only zero counts). */
  def userTypeMatrix(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .count()
      .na.fill(0L, EventTypes)
      .orderBy("user_id")

  val userTypeMatrixSql: String = {
    val cols = EventTypes.map(t =>
      s"""count(CASE WHEN event_type = '$t' THEN 1 END) AS "$t"""")
      .mkString(",\n      |       ")
    s"""SELECT user_id,
       |       $cols
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  /** Gaps-and-islands run-length encoding over the per-user event
    * sequence: consecutive same-type events form a run (an "island");
    * the classic two-window kernel marks run starts with a 1-lag type
    * compare, numbers runs with a cumulative sum of the start flags,
    * then collapses. Output is the bounded run-length distribution per
    * event type — (type, run_len, n_runs) cells — not the per-run rows,
    * so result size is vocab × max-run-length at any corpus scale.
    *
    * Shape at 100 TB: both windows share ONE partitioning (user_id) and
    * ONE sort (ts, event_id) — a single hash exchange + per-partition
    * sort serves the lag, the cumulative sum, and feeds straight into a
    * (user, run_id, type)-keyed aggregate with map-side partials. The
    * final distribution aggregate is cell-bounded. Per-user windows are
    * per-user-event-count sized — the scalable window discipline (never
    * a global ORDER BY over the stream). */
  def eventRuns(spark: SparkSession, dir: String): DataFrame =
    eventRunsFrom(Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type")))

  /** [[eventRuns]] kernel over any (user_id, ts, event_id, event_type)
    * frame — factored so specs can drive hand-built sequences. */
  private[graft] def eventRunsFrom(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("run_start",
        when(col("prev_type").isNull || col("prev_type") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("run_start")).over(w))
    flagged
      .groupBy(col("user_id"), col("run_id"), col("event_type"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("event_type"), col("run_len"))
      .agg(count(lit(1)).as("n_runs"))
      .orderBy("event_type", "run_len")
  }

  val eventRunsSql: String =
    """WITH seq AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |           AS prev_type
      |  FROM events
      |), numbered AS (
      |  SELECT user_id, event_type,
      |         sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
      |                  THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS run_id
      |  FROM seq
      |), runs AS (
      |  SELECT user_id, run_id, event_type, count(*) AS run_len
      |  FROM numbered GROUP BY 1, 2, 3
      |)
      |SELECT event_type, run_len, count(*) AS n_runs
      |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Debounce window: an event within this many seconds of the previous
    * event in the same (user, type) burst chain is collapsed into it. */
  private val DebounceGapSec = 300L

  /** Telemetry debounce — collapse bursts of the same (user, event_type)
    * into their first event: an event survives only if it starts a new
    * burst, i.e. arrives ≥ [[DebounceGapSec]] after the PREVIOUS event of
    * that key (gap-sessionization keep-first; deliberately NOT the
    * throttle variant "≥ gap after the previous KEPT event", which is a
    * sequential recurrence that cannot be expressed as one window pass —
    * the gap-chain form is the standard streaming-dedup semantics and
    * matches `session_window` burst boundaries). Emits the per-type
    * audit: events in, events kept, drop share.
    *
    * Shape at 100 TB: one hash exchange on (user_id, event_type) + one
    * per-key sort serves the single lag window; the survivors collapse
    * under a vocab-bounded counter aggregate. Nothing global, nothing
    * iterative — the same shape as `event_transitions`. */
  def eventDebounce(spark: SparkSession, dir: String): DataFrame =
    eventDebounceFrom(Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id")))

  /** [[eventDebounce]] kernel over any (user_id, event_type, ts, event_id)
    * frame — factored so specs can drive hand-built burst chains. */
  private[graft] def eventDebounceFrom(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      // true-elapsed gap on microsecond epochs (event timestamps carry
      // microseconds; a seconds-truncated diff would call a 299.6 s gap
      // "300") — unix_micros here, epoch_us in the oracle
      .withColumn("kept",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >= DebounceGapSec * 1000000L,
          1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("kept")).as("n_kept"))
      .withColumn("drop_share",
        round((col("n_events") - col("n_kept")).cast("double") / col("n_events"), 6))
      .orderBy("event_type")
  }

  val eventDebounceSql: String =
    s"""WITH seq AS (
       |  SELECT event_type, ts,
       |         lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
       |           AS prev_ts
       |  FROM events
       |), flagged AS (
       |  SELECT event_type,
       |         CASE WHEN prev_ts IS NULL
       |                   OR epoch_us(ts) - epoch_us(prev_ts) >= $DebounceGapSec * 1000000
       |              THEN 1 ELSE 0 END AS kept
       |  FROM seq
       |)
       |SELECT event_type, count(*) AS n_events,
       |       CAST(sum(kept) AS BIGINT) AS n_kept,
       |       round(CAST(count(*) - sum(kept) AS DOUBLE) / count(*), 6) AS drop_share
       |FROM flagged GROUP BY 1 ORDER BY 1""".stripMargin

  /** Attribution lookback window (days): clicks within this many days
    * before a purchase share its conversion credit. */
  private val AttribWindowDays = 7

  /** Linear multi-touch attribution — every click in the
    * [[AttribWindowDays]]-day window before a same-user purchase gets an
    * equal 1/n share of that conversion's credit, reported as credited
    * volume per click date: the marketing-analytics complement to the
    * stream entry's last-touch `click_attribution`.
    *
    * Shape at 100 TB: the candidate join is user-keyed equi (tc < tp and
    * the lookback are post-join filters on the pair stream, the funnel
    * assumption: per-user event counts are bounded); the 1/n split is a
    * window partitioned BY PURCHASE (per-purchase candidate sets — small
    * by the same bound); credits collapse under a date-keyed counter/
    * decimal-sum aggregate with map-side partials. Credit shares are
    * 6dp-rounded then summed as DECIMAL(18,6), so partial order cannot
    * change the result (the repo-wide decimal-sum rule). */
  def linearAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("tp"))
    val clk = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id"), col("ts").as("tc"))
    val cand = purch.join(clk, Seq("user_id"))
      .filter(col("tc") < col("tp") &&
        col("tc") >= col("tp") - expr(s"INTERVAL $AttribWindowDays DAYS"))
    val perPurchase = Window.partitionBy(col("p_id"))
    cand
      .withColumn("cr",
        round(lit(1.0) / count(lit(1)).over(perPurchase), 6).cast("decimal(18,6)"))
      .groupBy(to_date(col("tc")).as("click_date"))
      .agg(count(lit(1)).as("n_credits"),
        sum(col("cr")).cast("double").as("credit"))
      .orderBy("click_date")
  }

  val linearAttributionSql: String =
    s"""WITH purch AS (
       |  SELECT event_id AS p_id, user_id, ts AS tp
       |  FROM events WHERE event_type = 'purchase'
       |), clk AS (
       |  SELECT event_id AS c_id, user_id, ts AS tc
       |  FROM events WHERE event_type = 'click'
       |), cand AS (
       |  SELECT p.p_id, c.c_id, c.tc
       |  FROM purch p JOIN clk c ON p.user_id = c.user_id
       |  WHERE c.tc < p.tp AND c.tc >= p.tp - INTERVAL $AttribWindowDays DAY
       |), credit AS (
       |  SELECT tc, CAST(round(CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY p_id), 6)
       |                  AS DECIMAL(18,6)) AS cr
       |  FROM cand
       |)
       |SELECT CAST(tc AS DATE) AS click_date, count(*) AS n_credits,
       |       CAST(sum(cr) AS DOUBLE) AS credit
       |FROM credit GROUP BY 1 ORDER BY 1""".stripMargin

  /** Conversion-lag profile — the distribution of time from a user's
    * first view to their first subsequent purchase (the funnel's
    * time-to-convert axis): converting-user count plus exact p10/p50/p90
    * lag seconds via the two-phase distributed-selection kernel
    * ([[Quantiles.groupedQuantiles]], its seventh consumer — never a
    * global sort).
    *
    * Shape at 100 TB: two user-keyed min-aggregates and a user-keyed
    * join (user-cardinality frames, the funnel shape), then the quantile
    * kernel over one value per converting user. Lag is computed on
    * microsecond epochs and rounded to 6dp before the kernel, so both
    * engines select among identical doubles. */
  def conversionLagProfile(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val tv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("tv"))
    val lags = ev.filter(col("event_type") === "purchase")
      .join(tv, "user_id").filter(col("ts") > col("tv"))
      .groupBy("user_id").agg(min(col("ts")).as("tp"), min(col("tv")).as("tv"))
      .select(round((unix_micros(col("tp")) - unix_micros(col("tv")))
        .cast("double") / 1000000.0, 6).as("lag_sec"))
    Quantiles.groupedQuantiles(
        lags.select(lit("all").as("g"), col("lag_sec")), "g", "lag_sec",
        Seq("p10" -> 0.1, "p50" -> 0.5, "p90" -> 0.9))
      .drop("g")
  }

  val conversionLagProfileSql: String =
    """WITH tv AS (
      |  SELECT user_id, min(ts) AS tv FROM events
      |  WHERE event_type = 'view' GROUP BY 1
      |), lags AS (
      |  SELECT round((epoch_us(min(e.ts)) - epoch_us(min(t.tv))) / 1000000.0, 6)
      |           AS lag_sec
      |  FROM events e JOIN tv t USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > t.tv
      |  GROUP BY e.user_id
      |)
      |SELECT count(*) AS n,
      |       round(quantile_cont(lag_sec, 0.1), 6) AS p10,
      |       round(quantile_cont(lag_sec, 0.5), 6) AS p50,
      |       round(quantile_cont(lag_sec, 0.9), 6) AS p90
      |FROM lags""".stripMargin

  /** Trailing window for [[rollingActiveUsers]] (days): a user counts as
    * active on day d if they have any event in [d − 29, d]. */
  private val ActiveWindowDays = 30

  /** Rolling 30-day active users (daily MAU curve) — for every calendar
    * day in the corpus span, how many distinct users had activity in the
    * trailing [[ActiveWindowDays]]-day window. The headline engagement
    * series every product warehouse publishes, and the textbook case
    * where the naive formulation (per-day DISTINCT over a 30-day
    * self-join — the oracle's direct definition) is a scale-killer.
    *
    * The kernel is sweep-line over merged coverage intervals instead:
    * an activity day a makes its user active on [a, a+29], so per user,
    * activity days chain-merge into coverage intervals (two days merge
    * iff ≤ 29 apart — the gaps-and-islands kernel with a date gap);
    * each interval emits +1 at its start and −1 past its end, and the
    * daily series is the running sum of deltas over the calendar spine.
    *
    * Shape at 100 TB: events collapse to DISTINCT (user, day) map-side
    * (the only event-volume shuffle); the merge windows are per-user;
    * deltas collapse under a day-keyed sum into ≤ 2·days rows; and the
    * final running sum is a window over the calendar spine — bounded by
    * TIME, not data volume (the `monthly_revenue_mom` stance), which is
    * why the one global window here is sound. Each day's count is exact
    * — identical to the naive per-day DISTINCT. */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val days = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val intervals = days
      .withColumn("prev", lag(col("day"), 1).over(w))
      .withColumn("new_iv",
        when(col("prev").isNull ||
          datediff(col("day"), col("prev")) > ActiveWindowDays - 1, 1L)
          .otherwise(0L))
      .withColumn("iv_id", sum(col("new_iv")).over(w))
      .groupBy(col("user_id"), col("iv_id"))
      .agg(min(col("day")).as("cov_start"),
        date_add(max(col("day")), ActiveWindowDays - 1).as("cov_end"))
    val deltas = intervals.select(col("cov_start").as("day"), lit(1L).as("delta"))
      .unionAll(intervals.select(date_add(col("cov_end"), 1).as("day"),
        lit(-1L).as("delta")))
      .groupBy("day").agg(sum(col("delta")).as("delta"))
    val spine = ev.agg(min(to_date(col("ts"))).as("mn"), max(to_date(col("ts"))).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("day"))
    spine.join(deltas, Seq("day"), "left")
      .withColumn("active_users",
        sum(coalesce(col("delta"), lit(0L)))
          .over(Window.orderBy(col("day"))))
      .select("day", "active_users")
      .orderBy("day")
  }

  /** Oracle: the DIRECT definition — per-day DISTINCT over a trailing
    * 30-day join. Fine at oracle scale; the kernel exists because this
    * shape is quadratic-ish at corpus scale. */
  val rollingActiveUsersSql: String =
    s"""WITH bounds AS (
       |  SELECT min(CAST(ts AS DATE)) AS mn, max(CAST(ts AS DATE)) AS mx FROM events
       |), spine AS (
       |  SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS day FROM bounds
       |)
       |SELECT s.day, count(DISTINCT e.user_id) AS active_users
       |FROM spine s LEFT JOIN events e
       |  ON CAST(e.ts AS DATE) BETWEEN s.day - INTERVAL ${ActiveWindowDays - 1} DAY
       |                            AND s.day
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val userEventEntropySql: String =
    """WITH cells AS (
      |  SELECT user_id, event_type, count(*) AS c
      |  FROM events GROUP BY user_id, event_type
      |), totals AS (
      |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_types
      |  FROM cells GROUP BY user_id
      |), terms AS (
      |  SELECT c.user_id, t.n, t.n_types,
      |         CAST(round(-(c.c * 1.0 / t.n) * log2(c.c * 1.0 / t.n), 6)
      |              AS DECIMAL(18,6)) AS term
      |  FROM cells c JOIN totals t USING (user_id)
      |)
      |SELECT user_id, n AS n_events, n_types,
      |       CAST(sum(term) AS DOUBLE) AS entropy_bits
      |FROM terms GROUP BY user_id, n, n_types
      |ORDER BY user_id""".stripMargin

  /** Minimum co-ordered order count for a part pair to be reported by
    * [[basketPartPairs]] — support 1 is noise (any two parts that ever
    * met once), and dropping it bounds the output to genuinely
    * recurring affinities. */
  private val BasketMinSupport = 2

  /** Market-basket affinity — part pairs that are ordered together more
    * often than chance, the classic association-rule mining seed
    * (frequent itemsets of size 2 with their lift). For each pair of
    * parts co-occurring in at least [[BasketMinSupport]] orders:
    * how many orders contain both, how many contain each alone, and
    * lift = P(a,b) / (P(a)·P(b)) — lift > 1 means the pair attracts.
    *
    * Shape at 100 TB: the pair candidates are generated IN-ROW, not by a
    * lineitem self-join — one shuffle keyed on orderkey collapses each
    * order to its distinct-part basket (TPC-H-shape baskets are ≤ ~10
    * items, so the in-row expansion is ≤ C(10,2) structs per order — the
    * `source_overlap_matrix` idiom), and the exploded pairs collapse
    * map-side into (a, b) counters. Per-part order counts ride the SAME
    * basket frame (no second lineitem scan), and the corpus total is a
    * broadcast 1-row frame. A lineitem⋈lineitem self-join on orderkey
    * would shuffle the fact twice and emit the pairs as ROWS through the
    * join — strictly worse at any scale. */
  def basketPartPairs(spark: SparkSession, dir: String): DataFrame =
    basketPairsFrom(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("orderkey"), col("l_partkey").as("partkey")))

  /** The basket kernel over any (orderkey, partkey) frame — factored so
    * specs can drive it with hand-built baskets whose pair counts and
    * lifts are known in closed form. */
  private[analytics] def basketPairsFrom(items: DataFrame): DataFrame = {
    // one shuffle: order → sorted distinct basket; reused by pairs,
    // per-part counts, and the corpus total
    val baskets = items.groupBy("orderkey")
      .agg(sort_array(collect_set(col("partkey"))).as("parts"))
      .scratchCache()
    val totals = baskets.agg(count(lit(1)).as("n_orders"))
    val perPart = baskets.select(explode(col("parts")).as("partkey"))
      .groupBy("partkey").agg(count(lit(1)).as("n"))
    // native pair expansion — the interpreted flatten/transform/slice
    // chain measured ~35% of this entry at 25× (r22 §12)
    val pairs = baskets
      .filter(size(col("parts")) >= 2)
      .select(explode(graft.functions.OrderedPairs.of(col("parts"))).as("p"))
      .groupBy(col("p.a").as("part_a"), col("p.b").as("part_b"))
      .agg(count(lit(1)).as("pair_orders"))
      .filter(col("pair_orders") >= BasketMinSupport)
    pairs
      .join(perPart.select(col("partkey").as("part_a"), col("n").as("orders_a")), "part_a")
      .join(perPart.select(col("partkey").as("part_b"), col("n").as("orders_b")), "part_b")
      .crossJoin(broadcast(totals))
      .select(col("part_a"), col("part_b"), col("pair_orders"),
        col("orders_a"), col("orders_b"),
        round(col("pair_orders").cast("double") * col("n_orders") /
          (col("orders_a") * col("orders_b")), 6).as("lift"))
      .orderBy("part_a", "part_b")
  }

  /** Oracle: distinct-pair self-join formulation of the same counts. */
  val basketPartPairsSql: String =
    s"""WITH b AS (
       |  SELECT DISTINCT l_orderkey AS orderkey, l_partkey AS partkey
       |  FROM lineitem
       |), tot AS (
       |  SELECT count(DISTINCT orderkey) AS n_orders FROM b
       |), per_part AS (
       |  SELECT partkey, count(*) AS n FROM b GROUP BY 1
       |), p AS (
       |  SELECT x.partkey AS part_a, y.partkey AS part_b, count(*) AS pair_orders
       |  FROM b x JOIN b y ON x.orderkey = y.orderkey AND x.partkey < y.partkey
       |  GROUP BY 1, 2 HAVING count(*) >= $BasketMinSupport
       |)
       |SELECT part_a, part_b, pair_orders, ca.n AS orders_a, cb.n AS orders_b,
       |       round(CAST(pair_orders AS DOUBLE) * tot.n_orders
       |             / (ca.n * cb.n), 6) AS lift
       |FROM p
       |JOIN per_part ca ON part_a = ca.partkey
       |JOIN per_part cb ON part_b = cb.partkey
       |CROSS JOIN tot
       |ORDER BY part_a, part_b""".stripMargin

  /** Salt for [[abTestZscore]]'s deterministic arm assignment. */
  private val AbSalt = "ab1"

  /** Two-proportion A/B conversion test — users deterministically
    * hash-split into control/treatment (the [[graft.llm.Sampling]]
    * salted-md5 idiom: reproducible, growth-stable, no stored
    * assignment table), conversion = at least one purchase event, and
    * the pooled two-proportion z-score says whether the arms' rates
    * differ beyond chance. The readout every experimentation platform
    * computes; here the arms are a hash A/A split, so z should hover
    * near 0 — which is itself the standard health check (an A/A test
    * that "wins" means the assignment or logging is broken).
    *
    * Shape at 100 TB: one user-keyed collapse of the event stream
    * (map-side combined conditional max), then a single 1-row
    * conditional aggregate over the user frame — no window, no join.
    * The z arithmetic is per-row scalar double math on exact counts,
    * identical in both engines; se = 0 (all or no users converted)
    * yields NULL by explicit guard rather than an ANSI abort. */
  def abTestZscore(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .withColumn("arm",
        conv(substring(md5(concat_ws(":", lit(AbSalt),
          col("user_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 2)
    val counts = perUser.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_control"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_treatment"),
      sum(when(col("arm") === 0, col("converted")).otherwise(0L))
        .as("conv_control"),
      sum(when(col("arm") === 1, col("converted")).otherwise(0L))
        .as("conv_treatment"))
    val rc = col("conv_control").cast("double") / col("n_control")
    val rt = col("conv_treatment").cast("double") / col("n_treatment")
    val p = (col("conv_control") + col("conv_treatment")).cast("double") /
      (col("n_control") + col("n_treatment"))
    val se = sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / col("n_control") + lit(1.0) / col("n_treatment")))
    counts.select(col("n_control"), col("n_treatment"),
      col("conv_control"), col("conv_treatment"),
      round(rc, 6).as("rate_control"),
      round(rt, 6).as("rate_treatment"),
      when(p === 0.0 || p === 1.0, lit(null).cast("double"))
        .otherwise(round((rt - rc) / se, 4)).as("z_score"))
  }

  val abTestZscoreSql: String =
    s"""WITH u AS (
       |  SELECT user_id,
       |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |           AS converted,
       |         ('0x' || substr(md5('$AbSalt:' || CAST(user_id AS VARCHAR)),
       |                         1, 8))::BIGINT % 2 AS arm
       |  FROM events GROUP BY user_id
       |), c AS (
       |  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_control,
       |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_treatment,
       |         CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT)
       |           AS conv_control,
       |         CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT)
       |           AS conv_treatment
       |  FROM u
       |), s AS (
       |  SELECT *,
       |         CAST(conv_control AS DOUBLE) / n_control AS rc,
       |         CAST(conv_treatment AS DOUBLE) / n_treatment AS rt,
       |         CAST(conv_control + conv_treatment AS DOUBLE)
       |           / (n_control + n_treatment) AS p
       |  FROM c
       |)
       |SELECT n_control, n_treatment, conv_control, conv_treatment,
       |       round(rc, 6) AS rate_control,
       |       round(rt, 6) AS rate_treatment,
       |       CASE WHEN p = 0.0 OR p = 1.0 THEN NULL
       |            ELSE round((rt - rc) /
       |                 sqrt(p * (1.0 - p) *
       |                      (1.0 / n_control + 1.0 / n_treatment)), 4)
       |       END AS z_score
       |FROM s""".stripMargin

  /** [[topEventPaths]]: path prefix length and report size. */
  private val PathLen = 5
  private val PathTopK = 20

  /** Top user journeys — each user's first [[PathLen]] events as an
    * ordered type path, the [[PathTopK]] most common paths with their
    * user share: the "how do people actually start" analysis every
    * product team runs after the funnel says WHETHER they convert.
    *
    * Shape at 100 TB: the prefix trim happens FIRST — a per-user
    * row_number window (maximal parallelism, user-keyed partitions)
    * drops everything past event [[PathLen]] before any string is
    * built, so the path assembly aggregates ≤ [[PathLen]] rows per
    * user. Paths collapse map-side into (path, users) counters (path
    * cardinality ≤ |types|^[[PathLen]], far below user count), and the
    * top-K ranks over that bounded counter frame. Per-user event order
    * is the total (ts, event_id) ordering — deterministic paths on both
    * engines even with duplicate timestamps. */
  def topEventPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val prefix = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PathLen)
    val paths = prefix.groupBy("user_id")
      .agg(concat_ws(">", array_sort(collect_list(
        struct(col("rn"), col("event_type")))).getField("event_type"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_users"))
    val totals = paths.agg(sum(col("n_users")).as("total"))
    val rk = Window.orderBy(col("n_users").desc, col("path"))
    paths.crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(rk).cast("long"))
      .filter(col("rank") <= PathTopK)
      .select(col("rank"), col("path"), col("n_users"),
        round(col("n_users").cast("double") / col("total"), 6)
          .as("user_share"))
      .orderBy("rank")
  }

  val topEventPathsSql: String =
    s"""WITH p AS (
       |  SELECT user_id, event_type,
       |         row_number() OVER (PARTITION BY user_id
       |                            ORDER BY ts, event_id) AS rn
       |  FROM events
       |), paths AS (
       |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM p WHERE rn <= $PathLen GROUP BY user_id
       |), c AS (
       |  SELECT path, count(*) AS n_users FROM paths GROUP BY 1
       |), t AS (
       |  SELECT CAST(sum(n_users) AS BIGINT) AS total FROM c
       |), r AS (
       |  SELECT CAST(row_number() OVER (ORDER BY n_users DESC, path)
       |              AS BIGINT) AS rank,
       |         path, n_users,
       |         round(CAST(n_users AS DOUBLE) / total, 6) AS user_share
       |  FROM c CROSS JOIN t
       |)
       |SELECT rank, path, n_users, user_share
       |FROM r WHERE rank <= $PathTopK ORDER BY rank""".stripMargin

  /** Within-session conversion — the funnel measured INSIDE session
    * boundaries: of all sessions (the
    * [[graft.streaming.EventsStream.SessionGapMs]] gap rule, same
    * constant as `session_metrics`), how many contain a view, and
    * of those, how many convert with a purchase strictly after the
    * session's first view. Cross-session journeys deliberately don't
    * count — that distinction (session conversion vs the user-lifetime
    * `events_funnel`) is the point of the metric.
    *
    * Shape at 100 TB: session ids are the standard two-window pass over
    * user-keyed partitions (boundary flag, running sum — both
    * distributed); per-session flags collapse map-side; the output is
    * one row. */
  def sessionConversion(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = graft.streaming.EventsStream.SessionGapMs * 1000L
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val s = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        (col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs)
          .cast("long"))
      .withColumn("session_id", sum(col("new_s")).over(w))
    val perSession = s.groupBy("user_id", "session_id")
      .agg(
        min(when(col("event_type") === "view", unix_micros(col("ts"))))
          .as("first_view"),
        max(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("last_purchase"))
    perSession.agg(
      count(lit(1)).as("n_sessions"),
      sum(when(col("first_view").isNotNull, 1L).otherwise(0L))
        .as("n_with_view"),
      sum(when(col("first_view").isNotNull &&
        col("last_purchase") > col("first_view"), 1L).otherwise(0L))
        .as("n_converted"))
      .select(col("n_sessions"), col("n_with_view"), col("n_converted"),
        when(col("n_with_view") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_converted").cast("double") /
            col("n_with_view"), 6)).as("conversion_rate"))
  }

  val sessionConversionSql: String = {
    val gapUs = graft.streaming.EventsStream.SessionGapMs * 1000L
    s"""WITH t AS (
       |  SELECT user_id, event_id, event_type,
       |         epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events
       |), b AS (
       |  SELECT user_id, event_id, event_type, tu,
       |         CASE WHEN tu - LAG(tu, 1) OVER w IS NULL
       |                OR tu - LAG(tu, 1) OVER w > $gapUs
       |              THEN 1 ELSE 0 END AS new_s
       |  FROM t
       |  WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)
       |), s AS (
       |  SELECT user_id, event_type, tu,
       |         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tu, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           AS session_id
       |  FROM b
       |), per_session AS (
       |  SELECT user_id, session_id,
       |         min(CASE WHEN event_type = 'view' THEN tu END) AS first_view,
       |         max(CASE WHEN event_type = 'purchase' THEN tu END) AS last_purchase
       |  FROM s GROUP BY 1, 2
       |), a AS (
       |  SELECT count(*) AS n_sessions,
       |         CAST(sum(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END)
       |              AS BIGINT) AS n_with_view,
       |         CAST(sum(CASE WHEN first_view IS NOT NULL
       |                        AND last_purchase > first_view
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
       |  FROM per_session
       |)
       |SELECT n_sessions, n_with_view, n_converted,
       |       CASE WHEN n_with_view = 0 THEN NULL
       |            ELSE round(CAST(n_converted AS DOUBLE) / n_with_view, 6)
       |       END AS conversion_rate
       |FROM a""".stripMargin
  }

  /** Per-step funnel lag profile — the time each funnel transition takes
    * (first view → first click after it, that click → first purchase
    * after it), as lag quantiles per step: where `events_funnel` reports
    * WHO survives each step and `conversion_lag_profile` the end-to-end
    * lag, this is the per-edge timing a growth team reads to find WHICH
    * transition stalls.
    *
    * Shape at 100 TB: three user-keyed first-touch collapses (map-side
    * combined, the strict-chaining `events_funnel` semantics), per-user
    * lag rows, then the two-phase quantile kernel per step — ≤ 2 needle
    * groups, never a per-step sort of the user frame. */
  def funnelStepLags(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val tv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("tv"))
    val tc = ev.filter(col("event_type") === "click")
      .join(tv, "user_id").filter(col("ts") > col("tv"))
      .groupBy("user_id").agg(min(col("ts")).as("tc"), first(col("tv")).as("tv"))
    val tp = ev.filter(col("event_type") === "purchase")
      .join(tc.select("user_id", "tc"), "user_id").filter(col("ts") > col("tc"))
      .groupBy("user_id").agg(min(col("ts")).as("tp"), first(col("tc")).as("tc2"))
    def lagSec(a: Column, b: Column): Column =
      round((unix_micros(b) - unix_micros(a)).cast("double") / 1000000.0, 6)
    val lags = tc.select(lit("1_view_to_click").as("step"),
        lagSec(col("tv"), col("tc")).as("lag_sec"))
      .unionByName(tp.select(lit("2_click_to_purchase").as("step"),
        lagSec(col("tc2"), col("tp")).as("lag_sec")))
    Quantiles.groupedQuantiles(lags, "step", "lag_sec",
        Seq("p10" -> 0.1, "p50" -> 0.5, "p90" -> 0.9))
      .orderBy("step")
  }

  val funnelStepLagsSql: String =
    """WITH tv AS (
      |  SELECT user_id, min(ts) AS tv FROM events
      |  WHERE event_type = 'view' GROUP BY 1
      |), tc AS (
      |  SELECT e.user_id, min(e.ts) AS tc, min(t.tv) AS tv
      |  FROM events e JOIN tv t USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > t.tv
      |  GROUP BY e.user_id
      |), tp AS (
      |  SELECT e.user_id, min(e.ts) AS tp, min(c.tc) AS tc2
      |  FROM events e JOIN tc c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > c.tc
      |  GROUP BY e.user_id
      |), lags AS (
      |  SELECT '1_view_to_click' AS step,
      |         round((epoch_us(tc) - epoch_us(tv)) / 1000000.0, 6) AS lag_sec
      |  FROM tc
      |  UNION ALL
      |  SELECT '2_click_to_purchase' AS step,
      |         round((epoch_us(tp) - epoch_us(tc2)) / 1000000.0, 6) AS lag_sec
      |  FROM tp
      |)
      |SELECT step, count(*) AS n,
      |       round(quantile_cont(lag_sec, 0.1), 6) AS p10,
      |       round(quantile_cont(lag_sec, 0.5), 6) AS p50,
      |       round(quantile_cont(lag_sec, 0.9), 6) AS p90
      |FROM lags GROUP BY step ORDER BY step""".stripMargin

  /** Customer repurchase-interval profile — days between consecutive
    * orders of the same customer, as interval quantiles: the
    * replenishment-cycle statistic behind churn-risk windows ("no order
    * for > p90 of their peers' gap → at risk") and campaign timing. The
    * commerce twin of `interarrival_quantiles` (events).
    *
    * Shape at 100 TB: one customer-keyed lag window over (date,
    * orderkey)-ordered orders (distributed, per-customer partitions),
    * integer day gaps, then the two-phase quantile kernel over the
    * gap rows — never a global sort. */
  def repurchaseIntervalProfile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev_d", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev_d").isNotNull)
      .select(datediff(col("o_orderdate"), col("prev_d"))
        .cast("double").as("gap_days"))
    graft.analytics.Quantiles.groupedQuantiles(
        gaps.select(lit("all").as("g"), col("gap_days")), "g", "gap_days",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p90" -> 0.9))
      .drop("g")
  }

  val repurchaseIntervalProfileSql: String =
    """WITH g AS (
      |  SELECT CAST(datediff('day',
      |           lag(CAST(o_orderdate AS DATE))
      |             OVER (PARTITION BY o_custkey
      |                   ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
      |           CAST(o_orderdate AS DATE)) AS DOUBLE) AS gap_days
      |  FROM orders
      |  QUALIFY gap_days IS NOT NULL
      |)
      |SELECT count(*) AS n,
      |       round(quantile_cont(gap_days, 0.25), 6) AS p25,
      |       round(quantile_cont(gap_days, 0.5), 6) AS p50,
      |       round(quantile_cont(gap_days, 0.75), 6) AS p75,
      |       round(quantile_cont(gap_days, 0.9), 6) AS p90
      |FROM g""".stripMargin

  /** Activity heatmap — event counts per (day-of-week, hour) cell with
    * the share of corpus activity: the 7×24 usage matrix behind every
    * "when are users active" dashboard tile and the input to off-peak
    * maintenance scheduling. ISO day numbering (Monday = 1), the
    * `dow_seasonality` convention.
    *
    * Shape at 100 TB: one map-side-combined aggregate into ≤ 168 cells;
    * the share divides by a broadcast 1-row total. */
  def activityHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy((weekday(col("ts")) + 1).cast("int").as("dow"),
        hour(col("ts")).cast("int").as("hour"))
      .agg(count(lit(1)).as("n_events"))
    val tot = cells.agg(sum(col("n_events")).as("total"))
    cells.crossJoin(broadcast(tot))
      .select(col("dow"), col("hour"), col("n_events"),
        round(col("n_events").cast("double") / col("total"), 6).as("share"))
      .orderBy("dow", "hour")
  }

  val activityHeatmapSql: String =
    """WITH cells AS (
      |  SELECT CAST(isodow(CAST(ts AS TIMESTAMP)) AS INT) AS dow,
      |         CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hour,
      |         count(*) AS n_events
      |  FROM events GROUP BY 1, 2
      |), t AS (
      |  SELECT CAST(sum(n_events) AS BIGINT) AS total FROM cells
      |)
      |SELECT dow, hour, n_events,
      |       round(CAST(n_events AS DOUBLE) / total, 6) AS share
      |FROM cells CROSS JOIN t
      |ORDER BY dow, hour""".stripMargin
}
