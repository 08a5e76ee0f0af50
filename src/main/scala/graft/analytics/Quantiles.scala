package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Exact grouped quantiles (median / p95 / p99 of event values per type) —
  * the distribution-profiling aggregate an analytics engine needs beyond
  * the reference's count/sum family.
  *
  * Engine path: TWO-PHASE distributed rank arithmetic, not Spark's
  * built-in `percentile` aggregate — `percentile` buffers every (distinct
  * value, count) of a group in the aggregation buffer, O(group) executor
  * memory, which is exactly what dies first on a 100 TB fact table. And
  * not a `Window.partitionBy(group)` sort either: that funnels EVERY row
  * of a group through one task, so per-group parallelism equals group
  * count — a scale-killer when a fact-sized table has 5 event types.
  *
  * Instead: DISTRIBUTED SELECTION via partition histograms (the
  * `tokenBudgetSelect` prefix-sum pattern, Sampling.scala, plus a
  * needle-slice prune). Range-partition on (group, value) so a group
  * spans MANY ordered partitions; count rows per (partition, group) — a
  * histogram of ≤ #partitions × #groups rows, ONE hash aggregate with NO
  * sort; prefix-sum those counts within each group (a window over
  * config-bounded cardinality, never data). The histogram alone now
  * locates which slices contain the ≤ 6 flanking ranks per group
  * (a slice holds global ranks (off, off+count]), so only those NEEDLE
  * slices are re-read from the cached frame, locally ranked (each window
  * partition is one slice — bounded by the range-partition size), and
  * offset to global ranks; everything else is never sorted at all. Only
  * the two rows flanking each requested quantile position survive into
  * the final 5-row aggregate. Memory per task is one range partition;
  * the sort cost is ~6 slices per group at ANY data size. Results are
  * invariant to the partition count (ties split across a range boundary
  * still yield the same value at every rank — tied rows carry equal
  * values by definition); pinned by QuantilesSpec.
  *
  * Linear interpolation (type-7, both engines): pos = (n-1)·q,
  * result = v_lo + (pos - floor(pos)) · (v_hi - v_lo), computed on the
  * same doubles in the same order as DuckDB's `quantile_cont`, rounded to
  * 6dp for engine-stable comparison.
  *
  * The 100 TB knob when even one sorted pass is too much is
  * `approx_percentile` (t-digest sketch, fixed memory, bounded rank
  * error — the spec pins its error against this exact path).
  */
object Quantiles {

  private val Qs: Seq[(String, Double)] =
    Seq("q50" -> 0.5, "q95" -> 0.95, "q99" -> 0.99)

  def valueQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    groupedQuantiles(ev, "event_type", "value", Qs)
      .orderBy("event_type")
  }

  /** The two-phase distributed-selection kernel behind [[valueQuantiles]],
    * reusable over ANY (group, value) frame (e.g. the per-language
    * quality-gate thresholds in `TextAnalysis.qualityGate`): returns one
    * row per group with `n` and a type-7 linearly interpolated, 6dp-
    * rounded column per requested quantile. Unordered — callers add their
    * presentation sort. */
  private[graft] def groupedQuantiles(
      input: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[(String, Double)]): DataFrame = {
    val spark = input.sparkSession
    val ev = input.select(col(groupCol).as("event_type"),
      col(valueCol).cast("double").as("value"))
    val nPart = spark.sessionState.conf.numShufflePartitions
    // Both consumers (histogram, local ranks) must see the same sampled
    // range boundaries, hence the same _pid placement. No cache: the two
    // branches contain byte-identical range exchanges, so ReuseExchange /
    // AQE stage reuse executes ONE shuffle and both branches read its
    // output — same partitioner, same boundaries, same _pid, and nothing
    // stays pinned in executor memory after the query (the old .cache()
    // here was never unpersisted and accumulated per session). Shuffle
    // fetch order within a partition is not deterministic, but both
    // consumers are order-insensitive: the histogram only counts, and the
    // local rank sorts by value (ties carry equal values by definition).
    val ranged = ev.repartitionByRange(nPart, col("event_type"), col("value"))
      .withColumn("_pid", spark_partition_id())
    val hist = ranged.groupBy("_pid", "event_type").agg(count(lit(1)).as("_c"))
    // exclusive prefix sum of per-partition counts within each group, and
    // the group total — windows over the ≤ nPart×groups-row histogram
    // (config-bounded cardinality, not data)
    val offsets = hist
      .withColumn("_off", coalesce(
        sum(col("_c")).over(Window.partitionBy(col("event_type"))
          .orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("_c")).over(Window.partitionBy(col("event_type"))))
      .select("_pid", "event_type", "_c", "_off", "n")
    def pos(q: Double): Column = (col("n") - lit(1L)).cast("double") * lit(q)
    // the ≤ 6 flanking target ranks per group, from the histogram alone
    val targetRks = array_distinct(array(qs.flatMap { case (_, q) =>
      Seq(floor(pos(q)).cast("long") + 1, ceil(pos(q)).cast("long") + 1)
    }: _*))
    // needle slices: (partition, group) runs whose global-rank interval
    // (_off, _off + _c] contains a target rank — ≤ 6 slices per group; the
    // rest of the data is never sorted
    val needles = offsets
      .withColumn("_trk", explode(targetRks))
      .filter(col("_trk") > col("_off") && col("_trk") <= col("_off") + col("_c"))
      .select("_pid", "event_type", "_off", "n").distinct()
    // local rank WITHIN the needle slices only: every window partition is
    // one range-partition's slice of one group — bounded by partition size
    val localW = Window.partitionBy(col("_pid"), col("event_type"))
      .orderBy(col("value"))
    val ranked = ranged
      .join(broadcast(needles), Seq("_pid", "event_type"))
      .withColumn("_lrk", row_number().over(localW).cast("long"))
      .withColumn("rk", col("_off") + col("_lrk"))
    // per-q flanking values: only ranks floor(pos)+1 / ceil(pos)+1 survive
    // into the aggregate (row_number is 1-based)
    val flanks = qs.flatMap { case (name, q) =>
      Seq(
        max(when(col("rk") === floor(pos(q)).cast("long") + 1, col("value")))
          .as(s"${name}_lo"),
        max(when(col("rk") === ceil(pos(q)).cast("long") + 1, col("value")))
          .as(s"${name}_hi"))
    }
    val agged = ranked.groupBy("event_type")
      .agg(first(col("n")).as("n"), flanks: _*)
    val posN = (col("n") - lit(1L)).cast("double")
    val qCols = qs.map { case (name, q) =>
      val p = posN * lit(q)
      val frac = p - floor(p)
      round(col(s"${name}_lo") + frac * (col(s"${name}_hi") - col(s"${name}_lo")), 6)
        .as(name)
    }
    agged.select(col("event_type").as(groupCol) +: col("n") +: qCols: _*)
  }

  /** Median absolute deviation per group — the robust dispersion stat a
    * profiling pass prefers over stddev when values have heavy tails
    * (stddev is quadratic in outliers; MAD ignores them). Two chained
    * [[groupedQuantiles]] passes — the kernel's 4th and 5th consumers:
    * per-group median, broadcast back (group-count rows), 6dp-rounded
    * absolute deviations as a codegen'd projection over the scan, then
    * the kernel again for the deviation median. NO group ever funnels
    * through one task's sort (the exact shape the kernel exists to
    * avoid); both passes are range-partitioned distributed selection.
    * Determinism: med and adev round to 6dp before the second pass, so
    * both engines interpolate over identical doubles. */
  def valueMad(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val med = groupedQuantiles(ev, "event_type", "value", Seq("med" -> 0.5))
      .select(col("event_type"), col("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .select(col("event_type"),
        round(abs(col("value") - col("med")), 6).as("adev"))
    groupedQuantiles(dev, "event_type", "adev", Seq("mad" -> 0.5))
      .select(col("event_type"), col("n"), col("mad"))
      .orderBy("event_type")
  }

  val valueMadSql: String =
    """WITH m AS (
      |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      |  FROM events WHERE value IS NOT NULL GROUP BY event_type
      |), d AS (
      |  SELECT e.event_type, round(abs(e.value - m.med), 6) AS adev
      |  FROM events e JOIN m ON e.event_type = m.event_type
      |  WHERE e.value IS NOT NULL
      |)
      |SELECT event_type, count(*) AS n, round(quantile_cont(adev, 0.5), 6) AS mad
      |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin

  val valueQuantilesSql: String =
    """SELECT event_type, count(*) AS n,
      |       round(quantile_cont(value, 0.5), 6) AS q50,
      |       round(quantile_cont(value, 0.95), 6) AS q95,
      |       round(quantile_cont(value, 0.99), 6) AS q99
      |FROM events WHERE value IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Winsorization (outlier clipping) at per-group percentile fences —
    * the robust-statistics cleaning step a profiling pass applies before
    * aggregates an outlier can poison (means, stddevs, regressions):
    * every event value is clamped into its OWN event-type's [p01, p99]
    * band. Third consumer of [[groupedQuantiles]]: the fences come from
    * the two-phase kernel (never a per-group single-task sort), the
    * fence table is #groups rows broadcast back, and the clamp itself is
    * a codegen'd `least/greatest` over the scan — the whole operator
    * adds ONE small broadcast to the cost of reading the data. */
  def winsorizedValues(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"))
    val fences = groupedQuantiles(ev, "event_type", "value",
      Seq("p01" -> 0.01, "p99" -> 0.99))
      .select(col("event_type"), col("p01"), col("p99"))
    ev.join(broadcast(fences), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        round(greatest(col("p01"), least(col("p99"), col("value"))), 6)
          .as("value_clipped"),
        (col("value") < col("p01") || col("value") > col("p99"))
          .as("was_outlier"))
      .orderBy("event_id")
  }

  val winsorizedValuesSql: String =
    """WITH f AS (
      |  SELECT event_type,
      |         round(quantile_cont(value, 0.01), 6) AS p01,
      |         round(quantile_cont(value, 0.99), 6) AS p99
      |  FROM events WHERE value IS NOT NULL GROUP BY event_type
      |)
      |SELECT event_id, e.event_type, value,
      |       round(greatest(p01, least(p99, value)), 6) AS value_clipped,
      |       (value < p01 OR value > p99) AS was_outlier
      |FROM events e JOIN f ON e.event_type = f.event_type
      |WHERE value IS NOT NULL
      |ORDER BY event_id""".stripMargin

  /** Bucket count for [[valueHistogram]] — shared with the oracle SQL. */
  private val HistBuckets = 20

  /** Fixed-width value histogram per group — the binned distribution
    * profile that completes the profiling family (quantiles locate the
    * tails, the histogram shows the shape between them). Two passes over
    * the column: an exact per-group (min, max) aggregate (#groups rows,
    * broadcast back), then ONE hash aggregate on (group, bucket) — both
    * map-side-partial shapes that never hold more than counter state, at
    * any data size. Bucket index = floor((v − min) · B / (max − min)),
    * clamped so v = max lands in the last bucket; the identical double
    * arithmetic runs on both engines, so bucket boundaries cannot
    * disagree. Empty buckets are emitted as zero rows via a generated
    * (group × bucket) grid joined left — a histogram consumer (plotting,
    * drift diffing) needs the full grid, and the grid is #groups × B
    * rows, config-bounded. */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val fences = ev.groupBy("event_type")
      .agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    val binned = ev.join(broadcast(fences), "event_type")
      .select(col("event_type"),
        // Degenerate group (max == min): the width expression divides by
        // zero — Spark yields NULL (rows would vanish from the grid) while
        // DuckDB's IEEE 0/0 = NaN makes least(NaN, B-1) pick the LAST
        // bucket. Pin both engines to bucket 0 explicitly.
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(
            floor((col("value") - col("mn")) * HistBuckets / (col("mx") - col("mn"))),
            lit(HistBuckets - 1)))
          .cast("long").as("bucket"))
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
    val grid = fences.select(col("event_type"), col("mn"), col("mx"),
      explode(sequence(lit(0L), lit(HistBuckets - 1L))).as("bucket"))
    grid.join(binned, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("bucket"),
        round(col("mn") + col("bucket") * (col("mx") - col("mn")) / HistBuckets, 6)
          .as("bucket_lo"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("event_type", "bucket")
  }

  val valueHistogramSql: String =
    s"""WITH ev AS (
       |  SELECT event_type, value FROM events WHERE value IS NOT NULL
       |), f AS (
       |  SELECT event_type, min(value) AS mn, max(value) AS mx
       |  FROM ev GROUP BY event_type
       |), b AS (
       |  SELECT ev.event_type,
       |         CAST(CASE WHEN mx = mn THEN 0
       |                   ELSE least(floor((value - mn) * $HistBuckets / (mx - mn)),
       |                              $HistBuckets - 1) END AS BIGINT) AS bucket,
       |         count(*) AS n
       |  FROM ev JOIN f ON ev.event_type = f.event_type
       |  GROUP BY 1, 2
       |), grid AS (
       |  SELECT event_type, mn, mx, unnest(range(0, $HistBuckets)) AS bucket FROM f
       |)
       |SELECT g.event_type, g.bucket,
       |       round(mn + g.bucket * (mx - mn) / $HistBuckets, 6) AS bucket_lo,
       |       coalesce(n, 0) AS n
       |FROM grid g LEFT JOIN b ON g.event_type = b.event_type AND g.bucket = b.bucket
       |ORDER BY g.event_type, g.bucket""".stripMargin

  /** Exact distinct cardinality per group (COUNT(DISTINCT user_id) by
    * event_type) — the other distribution-profiling aggregate. Spark
    * plans it as the two-phase Expand: partial distinct on (group, user)
    * map-side, then the final count — no per-group set is ever
    * materialized in one task, so the shape survives a fact-sized input.
    * The 100 TB knob when even the expanded shuffle is too much is
    * `approx_count_distinct` (HyperLogLog++, fixed sketch memory,
    * mergeable across partitions) — QuantilesSpec bounds its relative
    * error against this exact path. */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")

  val distinctUsersSql: String =
    """SELECT event_type, count(*) AS n_events,
      |       count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Relative-error budget the approx-distinct entry asserts per group:
    * |approx − exact| ≤ 15% · exact — 3× Spark's requested rsd (5%), so a
    * healthy sketch passes with huge margin and a broken one cannot. */
  private val ApproxRelErr = "0.15"

  /** The sketch path to [[distinctUsers]], oracle-gated: per event_type,
    * the exact distinct-user count plus a boolean asserting the engine's
    * HyperLogLog estimate (`approx_count_distinct`, rsd 0.05) lands within
    * the 15% budget of exact. At 100 TB the sketch is the ONLY viable
    * distinct: fixed memory per group, mergeable map-side partials, one
    * narrow shuffle of sketches instead of the exact path's Expand over
    * every (group, user) pair.
    *
    * Oracle design: HLL estimates are implementation-specific, so the raw
    * estimate can never hash-match across engines BY DESIGN. What is
    * cross-engine checkable is the accuracy CONTRACT — each engine runs
    * its own sketch and asserts its own estimate against the shared exact
    * count and budget, and those verdicts (plus the exact counts) must
    * agree. Spark's actual estimate is additionally pinned numerically by
    * QuantilesSpec's error-bound test. */
  def approxDistinctCheck(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        approx_count_distinct(col("user_id"), 0.05).as("approx"))
      .select(col("event_type"), col("n_users"),
        (abs(col("approx") - col("n_users")) <=
          col("n_users") * lit(ApproxRelErr).cast("double")).as("within_bound"))
      .orderBy("event_type")

  val approxDistinctCheckSql: String =
    s"""SELECT event_type, count(DISTINCT user_id) AS n_users,
       |       abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
       |         <= count(DISTINCT user_id) * $ApproxRelErr AS within_bound
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Rank-space tolerance for [[approxQuantilesCheck]]: percentile_approx
    * at accuracy 100 guarantees rank error ≤ n/100; 0.05 leaves 5×
    * headroom so the contract is robust, not knife-edge. */
  private val ApproxQRankErr = 0.05

  /** Sketch-quantile accuracy contract — the `approx_distinct_check`
    * pattern for quantiles: each engine runs its own mergeable quantile
    * sketch (Spark: Greenwald-Khanna `percentile_approx`; DuckDB:
    * t-digest `approx_quantile`) against its own exact median and
    * asserts the estimate in RANK space — the fraction of group values
    * at or below the estimate must sit within [[ApproxQRankErr]] of 0.5.
    * Rank space is the contract GK actually guarantees (value-space
    * error is data-dependent and unbounded on skewed distributions), so
    * the check is provable, not empirical. The hash-compared columns are
    * the group, its count, the exact type-7 median (identical in both
    * engines), and the boolean verdict.
    *
    * Shape at 100 TB: the sketch aggregate ships fixed-size mergeable
    * summaries through the shuffle (never the value stream); the rank
    * probe joins the 5-row estimate table back and re-counts map-side.
    * This is the cheap always-on twin of the exact `value_quantiles`
    * kernel: sketches for monitoring, the exact kernel when the fences
    * feed a decision. */
  def approxQuantilesCheck(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val agg = e.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      round(expr("percentile(value, 0.5)"), 6).as("p50_exact"),
      expr("percentile_approx(value, 0.5, 100)").as("__ap"))
    val ranks = e
      .join(broadcast(agg.select(col("event_type"), col("__ap"))), "event_type")
      .groupBy("event_type")
      .agg((sum(when(col("value") <= col("__ap"), 1L).otherwise(0L)).cast("double") /
        count(lit(1))).as("__rank_frac"))
    agg.join(ranks, "event_type")
      .select(col("event_type"), col("n"), col("p50_exact"),
        (abs(col("__rank_frac") - 0.5) <= ApproxQRankErr).as("within_bound"))
      .orderBy("event_type")
  }

  val approxQuantilesCheckSql: String =
    s"""WITH e AS (
       |  SELECT event_type, value FROM events WHERE value IS NOT NULL
       |), a AS (
       |  SELECT event_type, count(*) AS n,
       |         round(quantile_cont(value, 0.5), 6) AS p50_exact,
       |         approx_quantile(value, 0.5) AS ap
       |  FROM e GROUP BY event_type
       |), r AS (
       |  SELECT e.event_type,
       |         CAST(sum(CASE WHEN e.value <= a.ap THEN 1 ELSE 0 END) AS DOUBLE)
       |           / count(*) AS rank_frac
       |  FROM e JOIN a USING (event_type)
       |  GROUP BY e.event_type
       |)
       |SELECT a.event_type, a.n, a.p50_exact,
       |       abs(r.rank_frac - 0.5) <= $ApproxQRankErr AS within_bound
       |FROM a JOIN r USING (event_type)
       |ORDER BY event_type""".stripMargin

  /** ROLLUP aggregation — order revenue by (region, nation) with region
    * subtotals and a grand total, the grouping-sets family the registry
    * otherwise lacks. Spark plans rollup as ONE pass with an Expand (each
    * input row fans out to its grouping sets before the partial
    * aggregate), so the 3-level hierarchy costs one shuffle, not three
    * queries — the shape that matters when the fact side is 100 TB.
    * `grouping()` flags disambiguate subtotal NULLs from (absent-here)
    * data NULLs; nation/region are broadcast dims, customer stays a
    * shuffle join per the scaling-table broadcast policy. */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_custkey", "o_totalprice")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        grouping(col("r_name")).cast("int").as("g_region"),
        grouping(col("n_name")).cast("int").as("g_nation"),
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
          .cast("double").as("revenue"))
      .select(col("r_name").as("region"), col("n_name").as("nation"),
        col("g_region"), col("g_nation"), col("n_orders"), col("revenue"))
      .orderBy(col("g_region"), col("g_nation"),
        col("region").asc_nulls_first, col("nation").asc_nulls_first)
  }

  val rollupRevenueSql: String =
    """SELECT r_name AS region, n_name AS nation,
      |       CAST(GROUPING(r_name) AS INT) AS g_region,
      |       CAST(GROUPING(n_name) AS INT) AS g_nation,
      |       count(*) AS n_orders,
      |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY g_region, g_nation, region NULLS FIRST, nation NULLS FIRST""".stripMargin

  /** CUBE aggregation — the full grouping-sets lattice over
    * (mktsegment, orderpriority): detail, BOTH one-dimension marginals,
    * and the grand total in ONE Expand pass / one shuffle (4 grouping
    * sets, where ROLLUP emits the 3 hierarchical ones). The marginals
    * over the SECOND dimension are what rollup cannot express — the
    * cross-tab totals a data-profiling pass reads. Same
    * `grouping()`-flag discipline as [[rollupRevenue]]. */
  def cubeRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_custkey", "o_totalprice", "o_orderpriority")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderpriority"))
      .agg(
        grouping(col("c_mktsegment")).cast("int").as("g_seg"),
        grouping(col("o_orderpriority")).cast("int").as("g_pri"),
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
          .cast("double").as("revenue"))
      .select(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"),
        col("g_seg"), col("g_pri"), col("n_orders"), col("revenue"))
      .orderBy(col("g_seg"), col("g_pri"),
        col("segment").asc_nulls_first, col("priority").asc_nulls_first)
  }

  val cubeRevenueSql: String =
    """SELECT c_mktsegment AS segment, o_orderpriority AS priority,
      |       CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
      |       CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
      |       count(*) AS n_orders,
      |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY CUBE(c_mktsegment, o_orderpriority)
      |ORDER BY g_seg, g_pri, segment NULLS FIRST, priority NULLS FIRST""".stripMargin

  /** Explicit GROUPING SETS — the third member of the grouping-lattice
    * family next to [[rollupRevenue]] (hierarchical prefixes) and
    * [[cubeRevenue]] (full lattice): a HAND-PICKED set list
    * `((segment), (priority), ())` — both one-dimension marginals plus
    * the grand total, WITHOUT the detail level. Neither rollup nor cube
    * can express that selection: rollup never emits the second marginal,
    * cube always pays for the (typically largest) detail set. This is
    * the dashboard-tiles shape — each tile is a marginal; nobody reads
    * the cross-product.
    *
    * Same engine mechanics as the siblings: ONE Expand pass replicates
    * each input row once per set (3× here, vs cube's 4×) into a single
    * hash aggregate / one shuffle, with `grouping()` flags
    * disambiguating a real NULL key from a rolled-up one. At 100 TB,
    * pruning the detail set from the Expand is exactly the skipped
    * output: Expand width = Σ|sets|, so set selection is the cost
    * knob. */
  def groupingSetsRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_custkey", "o_totalprice", "o_orderpriority")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    val seg = col("c_mktsegment")
    val pri = col("o_orderpriority")
    o.join(c, col("o_custkey") === col("c_custkey"))
      .groupingSets(Seq(Seq(seg), Seq(pri), Seq()), seg, pri)
      .agg(
        grouping(seg).cast("int").as("g_seg"),
        grouping(pri).cast("int").as("g_pri"),
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
          .cast("double").as("revenue"))
      .select(seg.as("segment"), pri.as("priority"),
        col("g_seg"), col("g_pri"), col("n_orders"), col("revenue"))
      .orderBy(col("g_seg"), col("g_pri"),
        col("segment").asc_nulls_first, col("priority").asc_nulls_first)
  }

  val groupingSetsRevenueSql: String =
    """SELECT c_mktsegment AS segment, o_orderpriority AS priority,
      |       CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
      |       CAST(GROUPING(o_orderpriority) AS INT) AS g_pri,
      |       count(*) AS n_orders,
      |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())
      |ORDER BY g_seg, g_pri, segment NULLS FIRST, priority NULLS FIRST""".stripMargin

  /** Tukey-fence (1.5×IQR) outlier profile per event type — the standard
    * box-plot rule a data-quality pass reports before anyone trusts a
    * mean: values outside [q1 - 1.5·IQR, q3 + 1.5·IQR] are counted, not
    * silently dropped, so the owning team sees the contamination rate.
    *
    * Sixth consumer of [[groupedQuantiles]]: q1/q3 come from the
    * two-phase distributed-selection kernel (never a per-group
    * single-task sort), the #groups-row fence table broadcasts back
    * onto the scan, and the outlier count is a codegen'd conditional
    * aggregate — cost at 100 TB = the kernel + one map-side counting
    * pass. Determinism: fences derive from 6dp-rounded quantiles on
    * both engines, so the boundary comparisons see identical doubles. */
  def iqrOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val fences = groupedQuantiles(ev, "event_type", "value",
        Seq("q1" -> 0.25, "q3" -> 0.75))
      .withColumn("iqr", round(col("q3") - col("q1"), 6))
      .withColumn("lo_fence", round(col("q1") - lit(1.5) * col("iqr"), 6))
      .withColumn("hi_fence", round(col("q3") + lit(1.5) * col("iqr"), 6))
    ev.join(broadcast(fences), "event_type")
      .groupBy("event_type")
      .agg(first(col("n")).as("n"),
        first(col("q1")).as("q1"), first(col("q3")).as("q3"),
        first(col("iqr")).as("iqr"),
        first(col("lo_fence")).as("lo_fence"),
        first(col("hi_fence")).as("hi_fence"),
        sum(when(col("value") < col("lo_fence") ||
          col("value") > col("hi_fence"), 1L).otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_rate",
        round(col("n_outliers").cast("double") / col("n"), 6))
      .orderBy("event_type")
  }

  val iqrOutliersSql: String =
    """WITH f AS (
      |  SELECT event_type, count(*) AS n,
      |         round(quantile_cont(value, 0.25), 6) AS q1,
      |         round(quantile_cont(value, 0.75), 6) AS q3
      |  FROM events WHERE value IS NOT NULL GROUP BY event_type
      |), b AS (
      |  SELECT *, round(q3 - q1, 6) AS iqr,
      |         round(q1 - 1.5 * round(q3 - q1, 6), 6) AS lo_fence,
      |         round(q3 + 1.5 * round(q3 - q1, 6), 6) AS hi_fence
      |  FROM f
      |)
      |SELECT e.event_type, min(b.n) AS n, min(b.q1) AS q1, min(b.q3) AS q3,
      |       min(b.iqr) AS iqr, min(b.lo_fence) AS lo_fence,
      |       min(b.hi_fence) AS hi_fence,
      |       CAST(sum(CASE WHEN e.value < b.lo_fence OR e.value > b.hi_fence
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |       round(sum(CASE WHEN e.value < b.lo_fence OR e.value > b.hi_fence
      |                      THEN 1 ELSE 0 END) / CAST(min(b.n) AS DOUBLE), 6)
      |         AS outlier_rate
      |FROM events e JOIN b ON e.event_type = b.event_type
      |WHERE e.value IS NOT NULL
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  /** Customer spend deciles WITHOUT a global window — the scalable twin
    * of `ntile(10) OVER (ORDER BY spend)`: a global ntile ranks every
    * customer through ONE task's sort (the anti-pattern the quantile
    * kernel exists to avoid), so instead the nine decile BOUNDARIES come
    * from the [[groupedQuantiles]] distributed-selection kernel (its 6th
    * consumer, one all-customers group) and each customer's decile is a
    * codegen'd comparison against the broadcast 1-row boundary frame:
    * decile = 1 + #{boundaries strictly below the spend}.
    *
    * Shape at 100 TB: per-customer spend is one keyed decimal-sum
    * shuffle (mergeable partials); the kernel range-partitions and sorts
    * only needle slices; assignment is map-only under a broadcast of 9
    * doubles. Nothing global ever sorts the customer frame. Both engines
    * compute boundaries as type-7 interpolation over the same rounded
    * doubles, so boundary-equal spends land identically under strict
    * `>`. */
  def spendDeciles(spark: SparkSession, dir: String): DataFrame = {
    val dqs: Seq[(String, Double)] =
      (1 to 9).map(i => (s"d$i", i / 10.0))
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double").as("spend"))
    val bounds = groupedQuantiles(
      spend.withColumn("g", lit("all")), "g", "spend", dqs)
      .select(dqs.map { case (nm, _) => col(nm) }: _*)
    val decile = dqs.map { case (nm, _) =>
      when(col("spend") > col(nm), 1L).otherwise(0L)
    }.reduce(_ + _) + lit(1L)
    spend.crossJoin(broadcast(bounds))
      .select(col("custkey"), col("spend"), decile.as("decile"))
      .orderBy("custkey")
  }

  val spendDecilesSql: String =
    """WITH spend AS (
      |  SELECT o_custkey AS custkey,
      |         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
      |           AS spend
      |  FROM orders GROUP BY o_custkey
      |),
      |b AS (
      |  SELECT round(quantile_cont(spend, 0.1), 6) AS d1,
      |         round(quantile_cont(spend, 0.2), 6) AS d2,
      |         round(quantile_cont(spend, 0.3), 6) AS d3,
      |         round(quantile_cont(spend, 0.4), 6) AS d4,
      |         round(quantile_cont(spend, 0.5), 6) AS d5,
      |         round(quantile_cont(spend, 0.6), 6) AS d6,
      |         round(quantile_cont(spend, 0.7), 6) AS d7,
      |         round(quantile_cont(spend, 0.8), 6) AS d8,
      |         round(quantile_cont(spend, 0.9), 6) AS d9
      |  FROM spend
      |)
      |SELECT custkey, spend,
      |       CAST(1 + CAST(spend > d1 AS INT) + CAST(spend > d2 AS INT)
      |              + CAST(spend > d3 AS INT) + CAST(spend > d4 AS INT)
      |              + CAST(spend > d5 AS INT) + CAST(spend > d6 AS INT)
      |              + CAST(spend > d7 AS INT) + CAST(spend > d8 AS INT)
      |              + CAST(spend > d9 AS INT) AS BIGINT) AS decile
      |FROM spend CROSS JOIN b
      |ORDER BY custkey""".stripMargin

  /** Fulfillment-latency profile — per order priority, the distribution
    * of days between order placement and line shipment (count, mean,
    * exact p50/p90): the SLA dashboard an operations team reads, and
    * the latest consumer of the [[groupedQuantiles]] selection kernel
    * (no per-group task sort at any fact size).
    *
    * Scale shape: ONE fact-side equi-join on the order key feeds both a
    * counter aggregate (count + exact integer day-sum → mean) and the
    * two-phase quantile kernel; delays are small integers, so the mean
    * divides two exact numbers once.
    *
    * Deliberately NOT cached (r22, closing VERDICT r21 #2 with a
    * measured negative): `.scratchCache()` on the joined (priority,
    * delay) frame — one join execution feeding both consumers — was
    * tried and measured SLOWER in an in-JVM alternated A/B
    * (CcAbProfile, a test main at commit 448c640, min estimator): 5×
    * organic 2.55 s uncached vs 2.94 s cached, 25× 6.73 s vs 7.65 s,
    * and 17 vs 21 driver jobs —
    * the consistent sign at both scales. The codegen'd scan+join of two
    * pruned fact columns is cheaper to recompute (even ~3×: range-
    * sampling pass + quantile pass + counter pass) than the columnar
    * cache build + two cache reads of a fact-sized (string, int) frame.
    * On a cluster where the join shuffles over a network the trade can
    * flip; that is a deployment-config decision, not this kernel's. */
  def shipDelayProfile(spark: SparkSession, dir: String): DataFrame = {
    val j = graft.Tables.lineitem(spark, dir)
      .join(graft.Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("delay"))
    val th = groupedQuantiles(
      j.select(col("priority"), col("delay").cast("double").as("delay")),
      "priority", "delay", Seq("p50" -> 0.5, "p90" -> 0.9))
    val stats = j.groupBy("priority")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("delay").cast("long")).as("sd"))
    stats.join(th, "priority")
      .select(col("priority"), col("n_lines"),
        round(col("sd").cast("double") / col("n_lines"), 6).as("avg_days"),
        col("p50"), col("p90"))
      .orderBy("priority")
  }

  val shipDelayProfileSql: String =
    """WITH j AS (
      |  SELECT o_orderpriority AS priority,
      |         datediff('day', o_orderdate, l_shipdate) AS delay
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |)
      |SELECT priority, count(*) AS n_lines,
      |       round(CAST(sum(delay) AS DOUBLE) / count(*), 6) AS avg_days,
      |       round(quantile_cont(CAST(delay AS DOUBLE), 0.5), 6) AS p50,
      |       round(quantile_cont(CAST(delay AS DOUBLE), 0.9), 6) AS p90
      |FROM j GROUP BY priority ORDER BY priority""".stripMargin

  /** Quantile fractions reported by [[weightedLengthQuantiles]]. */
  private val WQs: Seq[(String, Double)] =
    Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p90" -> 0.9)

  /** WEIGHTED grouped quantiles — per language, the document length at
    * which cumulative TOKEN mass reaches each fraction: "docs up to
    * length L hold half this language's tokens", the question packing,
    * truncation, and curriculum decisions actually need (the unweighted
    * median answers about documents, not about the token budget).
    * Definition: the smallest value v with W(≤ v) ≥ q·W_total.
    *
    * The kernel is the WEIGHTED analog of [[groupedQuantiles]]'s
    * two-phase distributed selection: range-partition by (group, value),
    * reduce each (partition, group) run to its WEIGHT SUM, find per
    * target fraction the single run where the cumulative weight crosses
    * q·W (a window over the config-bounded histogram frame), and sort
    * ONLY those needle slices — the crossing row's value is the answer.
    * No group ever funnels through one task; weights stay exact longs,
    * and the crossing compare is long-vs-double (exact below 2⁵³), so
    * both engines pick the identical row. */
  def weightedLengthQuantiles(spark: SparkSession, dir: String): DataFrame = {
    weightedQuantilesFrom(
      Tables.spread(Tables.documents(spark, dir))
        .select(col("lang"),
          col("n_chars").cast("double").as("value"),
          graft.llm.TextAnalysis.wsTokenCount(col("text")).cast("long").as("w")),
      WQs)
  }

  /** The weighted two-phase selection kernel over any (lang, value, w)
    * frame — factored so properties can drive it with random weighted
    * corpora whose crossing values replay in closed form. */
  private[analytics] def weightedQuantilesFrom(
      docs: DataFrame, qs: Seq[(String, Double)]): DataFrame = {
    val spark = docs.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val ranged = docs.repartitionByRange(nPart, col("lang"), col("value"))
      .withColumn("_pid", spark_partition_id())
    val hist = ranged.groupBy("_pid", "lang").agg(sum(col("w")).as("_wc"))
    val offsets = hist
      .withColumn("_woff", coalesce(
        sum(col("_wc")).over(Window.partitionBy(col("lang"))
          .orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("wtot", sum(col("_wc")).over(Window.partitionBy(col("lang"))))
    // per-fraction crossing thresholds; one needle (pid, lang, q) triple
    // per fraction — the run where cumulative weight first reaches q·W
    val qArr = array(qs.map { case (name, q) =>
      struct(lit(name).as("qn"), (lit(q) * col("wtot")).as("qw"))
    }: _*)
    val needles = offsets
      .withColumn("t", explode(qArr))
      .filter(col("t.qw") > col("_woff") &&
        col("t.qw") <= col("_woff") + col("_wc"))
      .select(col("_pid"), col("lang"), col("_woff"), col("wtot"),
        col("t.qn").as("qn"), col("t.qw").as("qw"))
    val localW = Window.partitionBy(col("_pid"), col("lang"), col("qn"))
      .orderBy(col("value"))
    val crossed = ranged
      .join(broadcast(needles), Seq("_pid", "lang"))
      .withColumn("_cw", sum(col("w")).over(localW))
      .filter(col("_woff") + col("_cw") >= col("qw"))
      .groupBy("lang", "qn")
      .agg(min(col("value")).as("cut"), first(col("wtot")).as("total_tokens"))
    crossed.select(col("lang"), col("qn").as("quantile"),
      col("cut").as("length_cut"), col("total_tokens"))
      .orderBy("lang", "quantile")
  }

  /** Oracle: the naive per-group window form — a full per-language sort
    * with a running weight sum, correct at any SF and exactly the
    * single-task shape the two-phase kernel avoids. */
  val weightedLengthQuantilesSql: String = {
    val qRows = WQs.map { case (name, q) => s"SELECT '$name' AS qn, $q AS q" }
      .mkString(" UNION ALL ")
    s"""WITH d AS (
       |  SELECT lang, CAST(n_chars AS DOUBLE) AS value,
       |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS w
       |  FROM documents
       |), c AS (
       |  SELECT lang, value, w,
       |         CAST(sum(w) OVER (PARTITION BY lang ORDER BY value
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |           AS cw,
       |         CAST(sum(w) OVER (PARTITION BY lang) AS BIGINT) AS wtot
       |  FROM d
       |), qs AS ($qRows)
       |SELECT lang, qn AS quantile, min(value) AS length_cut,
       |       CAST(min(wtot) AS BIGINT) AS total_tokens
       |FROM c CROSS JOIN qs
       |WHERE cw >= q * wtot
       |GROUP BY lang, qn
       |ORDER BY lang, quantile""".stripMargin
  }

  /** Columns profiled by [[numericCorrMatrix]], in pair order. */
  private val CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Pairwise Pearson correlation matrix over lineitem's numeric
    * columns — the profiling pass a feature-engineering or data-contract
    * check runs to catch collinear or accidentally-copied columns. All
    * C(4,2) coefficients come from ONE aggregate pass: per-column sums
    * and squares plus the six cross-products collapse map-side (15
    * partial aggregates in one hash table), the matrix rows expand
    * in-row from the single result row (the `table_profile` idiom — no
    * second scan, no join), and r derives from the decimal-exact
    * moments in per-row double arithmetic, so both engines emit
    * bit-identical coefficients. */
  def numericCorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def d(c: String) = col(c).cast("decimal(12,2)")
    val pairs = CorrCols.combinations(2).map(p => (p(0), p(1))).toSeq
    val aggs = count(lit(1)).as("n") +:
      (CorrCols.flatMap(c => Seq(
        sum(d(c)).as(s"s_$c"), sum(d(c) * d(c)).as(s"ss_$c"))) ++
        pairs.map { case (a, b) => sum(d(a) * d(b)).as(s"sp_${a}_$b") })
    val m = li.agg(aggs.head, aggs.tail: _*)
    def corr(a: String, b: String): Column = {
      val n = col("n").cast("double")
      val (sa, sb) = (col(s"s_$a").cast("double"), col(s"s_$b").cast("double"))
      val cov = n * col(s"sp_${a}_$b").cast("double") - sa * sb
      val va = n * col(s"ss_$a").cast("double") - sa * sa
      val vb = n * col(s"ss_$b").cast("double") - sb * sb
      round(cov / sqrt(va * vb), 6)
    }
    m.select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("col_a"), lit(b).as("col_b"),
          col("n"), corr(a, b).as("pearson_r"))
      }: _*)).as("r"))
      .select("r.*")
      .orderBy("col_a", "col_b")
  }

  val numericCorrMatrixSql: String = {
    val pairs = CorrCols.combinations(2).map(p => (p(0), p(1))).toSeq
    val aggSql = (CorrCols.flatMap(c => Seq(
      s"sum(CAST($c AS DECIMAL(12,2))) AS s_$c",
      s"sum(CAST($c AS DECIMAL(12,2)) * CAST($c AS DECIMAL(12,2))) AS ss_$c")) ++
      pairs.map { case (a, b) =>
        s"sum(CAST($a AS DECIMAL(12,2)) * CAST($b AS DECIMAL(12,2))) AS sp_${a}_$b"
      }).mkString(",\n       |         ")
    val rows = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
         |       round((CAST(n AS DOUBLE) * CAST(sp_${a}_$b AS DOUBLE)
         |              - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))
         |             / sqrt((CAST(n AS DOUBLE) * CAST(ss_$a AS DOUBLE)
         |                     - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))
         |                    * (CAST(n AS DOUBLE) * CAST(ss_$b AS DOUBLE)
         |                       - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))),
         |             6) AS pearson_r FROM a""".stripMargin
    }.mkString("\n|UNION ALL\n|").stripMargin
    s"""WITH a AS (
       |  SELECT count(*) AS n,
       |         $aggSql
       |  FROM lineitem
       |)
       |$rows
       |ORDER BY col_a, col_b""".stripMargin
  }
}
