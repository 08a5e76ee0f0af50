package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Distribution statistics the reference's analysis layer implies but
  * never spells out (analysis.sql computes ratios/ranks; a warehouse
  * team's next request is always "is this distribution different from
  * that one"). Everything here is exact arithmetic over aggregates —
  * no sampling, no approximation beyond documented binning — and every
  * entry follows the registry conventions: decimal-exact internal
  * sums, rounded doubles at the output edge, total orderings anywhere
  * row position matters. */
object Stats {

  /** Binned two-sample Kolmogorov–Smirnov distance — how differently
    * `value` distributes across event types, each type tested against
    * the pooled rest-of-corpus distribution. The classic drift /
    * homogeneity check run before trusting a per-segment metric.
    *
    * Binning is the scale decision: the exact KS statistic needs a
    * global CDF walk over DISTINCT values (unbounded at 100 TB — a
    * single-sort scale-killer). On a fixed [[KsBuckets]]-bucket grid
    * over the observed [min,max], the per-(type,bucket) counts collapse
    * map-side into ≤ types × buckets rows, the CDF walk is a
    * dimension-sized window, and the statistic is exact FOR THE GRID
    * (documented estimator, same grid in the oracle — deterministic
    * cross-engine). Degenerate corpus (max == min) pins every row to
    * bucket 0 rather than dividing by zero (the `value_histogram`
    * guard, mirrored in the SQL CASE).
    *
    * Degenerate corpus #2 (a SINGLE event type): the rest-population
    * denominator `tot_all - tot_t` is 0, so ks_d comes out NULL — there
    * is no rest distribution to test against, and NULL states that
    * honestly. The NULL is an EXPLICIT guard on both engines (the
    * `tot_all = tot_t` CASE below): DuckDB's x/0 is NULL natively, but
    * Spark under ANSI mode (the 4.x default) throws DIVIDE_BY_ZERO, so
    * the unguarded division would abort the job instead of reporting
    * the absent contrast. No row is dropped — the type still reports
    * its n_type/n_rest counts (pinned in StatsSpec). */
  val KsBuckets = 200

  def ksByEventType(spark: SparkSession, dir: String): DataFrame =
    ksFrom(Tables.events(spark, dir).select(col("event_type"), col("value")))

  /** The KS kernel over any (event_type, value) frame — factored out so
    * specs can drive it with hand-built distributions whose statistic is
    * known in closed form (identical distributions ⇒ d = 0). */
  private[analytics] def ksFrom(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bounds = e.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    val binned = e.crossJoin(broadcast(bounds))
      .select(col("event_type"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(
            floor((col("value") - col("mn")) * KsBuckets / (col("mx") - col("mn"))),
            lit(KsBuckets - 1L))).cast("long").as("bucket"))
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
    // densify to the full type × occupied-bucket grid BEFORE the CDF
    // walk: the supremum must be evaluated at every bucket ANY sample
    // occupies (a type's CDF is flat where it has no mass, but the
    // rest-CDF keeps moving there — skipping those buckets would
    // understate D). Both frames are dimension-sized (≤ types ×
    // KsBuckets rows), so the cross join and windows cost nothing.
    val byBucket = binned.groupBy("bucket").agg(sum(col("n")).as("n_all"))
    val types = binned.select("event_type").distinct()
    val grid = types.crossJoin(broadcast(byBucket))
      .join(binned, Seq("event_type", "bucket"), "left")
      .na.fill(0L, Seq("n"))
    val wType = Window.partitionBy("event_type").orderBy("bucket")
    val totals = Window.partitionBy("event_type")
    val cum = grid
      .withColumn("cum_t", sum(col("n")).over(wType))
      .withColumn("cum_all", sum(col("n_all")).over(wType))
      .withColumn("tot_t", sum(col("n")).over(totals))
      .withColumn("tot_all", sum(col("n_all")).over(totals))
    val restCdf = when(col("tot_all") === col("tot_t"), lit(null).cast("double"))
      .otherwise((col("cum_all") - col("cum_t")).cast("double") /
        (col("tot_all") - col("tot_t")))
    cum.groupBy(col("event_type"))
      .agg(
        max(abs(col("cum_t").cast("double") / col("tot_t") - restCdf)).as("d"),
        max(col("tot_t")).as("n_type"),
        max(col("tot_all") - col("tot_t")).as("n_rest"))
      .select(col("event_type"), round(col("d"), 6).as("ks_d"),
        col("n_type"), col("n_rest"))
      .orderBy("event_type")
  }

  /** The oracle walks the identical dense grid: same bucket CASE, same
    * type × bucket densification, same cumulative frame, same
    * type-vs-rest contrast — bit-identical doubles on both engines. */
  val ksByEventTypeSql: String =
    s"""WITH e AS (SELECT event_type, value FROM events),
       |b AS (SELECT min(value) AS mn, max(value) AS mx FROM e),
       |binned AS (
       |  SELECT event_type,
       |         CAST(CASE WHEN mx = mn THEN 0
       |                   ELSE least(floor((value - mn) * $KsBuckets / (mx - mn)),
       |                              $KsBuckets - 1) END AS BIGINT) AS bucket,
       |         count(*) AS n
       |  FROM e CROSS JOIN b GROUP BY 1, 2
       |),
       |by_bucket AS (SELECT bucket, sum(n) AS n_all FROM binned GROUP BY 1),
       |grid AS (
       |  SELECT t.event_type, bb.bucket, bb.n_all, coalesce(bi.n, 0) AS n
       |  FROM (SELECT DISTINCT event_type FROM binned) t
       |  CROSS JOIN by_bucket bb
       |  LEFT JOIN binned bi ON bi.event_type = t.event_type AND bi.bucket = bb.bucket
       |),
       |cum AS (
       |  SELECT event_type,
       |         sum(n)     OVER (PARTITION BY event_type ORDER BY bucket) AS cum_t,
       |         sum(n_all) OVER (PARTITION BY event_type ORDER BY bucket) AS cum_all,
       |         sum(n)     OVER (PARTITION BY event_type) AS tot_t,
       |         sum(n_all) OVER (PARTITION BY event_type) AS tot_all
       |  FROM grid
       |)
       |SELECT event_type,
       |       round(max(abs(CAST(cum_t AS DOUBLE) / tot_t
       |                     - CASE WHEN tot_all = tot_t THEN NULL
       |                            ELSE CAST(cum_all - cum_t AS DOUBLE)
       |                                 / (tot_all - tot_t) END)), 6)
       |         AS ks_d,
       |       CAST(max(tot_t) AS BIGINT) AS n_type,
       |       CAST(max(tot_all - tot_t) AS BIGINT) AS n_rest
       |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Gini coefficient of customer spend concentration — the
    * single-number answer to "how unequal is revenue across the
    * customer base", computed EXACTLY from the rank form
    * G = Σᵢ (2i − n − 1)·xᵢ / (n · Σ xᵢ) over per-customer spend
    * sorted ascending (i = 1-based rank).
    *
    * Scale shape: spend aggregates per customer first (one keyed sum of
    * mergeable decimal partials — the fact-side cost), then the global
    * rank comes from [[Tables.globalRunningSum]] with
    * value = 1 — the two-phase `_pid` prefix-sum kernel (range-partition,
    * parallel local row counts, #partition-row offset window broadcast
    * back): `row_number()` under the total order with NO single-task
    * window at any scale. The ordering (spend, custkey) is total, so
    * ranks are deterministic under spend ties and the kernel assigns
    * exactly the window's ids (r16 whitelist retirement — this entry
    * previously rode the adaptive surrogate-key kernel, whose small-input
    * arm planned a global window). The final Σ is one scalar aggregate. */
  def giniSpend(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
    val ranked = Tables.globalRunningSum(spend,
      Seq(col("spend").asc, col("custkey").asc), lit(1L), "i")
    ranked.agg(count(lit(1)).as("n"),
        sum(col("spend")).as("tot"),
        sum(col("spend") * (lit(2) * col("i"))).as("wsum"))
      .select(col("n").as("n_customers"),
        round(col("tot"), 2).cast("double").as("total_spend"),
        round((col("wsum").cast("double") -
            (col("n") + 1).cast("double") * col("tot").cast("double")) /
          (col("n").cast("double") * col("tot").cast("double")), 6).as("gini"))
  }

  val giniSpendSql: String =
    """WITH spend AS (
      |  SELECT o_custkey AS custkey,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      |  FROM orders GROUP BY 1
      |),
      |ranked AS (
      |  SELECT spend, row_number() OVER (ORDER BY spend, custkey) AS i
      |  FROM spend
      |)
      |SELECT count(*) AS n_customers,
      |       CAST(round(sum(spend), 2) AS DOUBLE) AS total_spend,
      |       round((CAST(sum(spend * 2 * i) AS DOUBLE)
      |              - (count(*) + 1) * CAST(sum(spend) AS DOUBLE))
      |             / (count(*) * CAST(sum(spend) AS DOUBLE)), 6) AS gini
      |FROM ranked""".stripMargin

  /** Month-over-month revenue growth — the calendar trend report every
    * warehouse publishes: monthly revenue, the previous month's via a
    * 1-lag window, absolute delta and percent change (NULL for the
    * first month, where there is no prior — both engines agree on NULL
    * rather than a divide-by-zero artifact).
    *
    * Gap months: the lag compares against the previous PRESENT month,
    * not the previous calendar month — a month with zero orders simply
    * has no row, so the next month's delta/pct_change spans the gap
    * (deliberate: the series reports observed-to-observed movement; a
    * calendar-densified variant would prepend a `sequence()` spine and
    * fill gaps with 0 revenue, changing delta semantics from "since
    * last observed" to "since last calendar month"). On this corpus the
    * orders table covers every month, so the two readings coincide.
    *
    * Shape at 100 TB: the fact stream collapses to ≤ months rows under
    * one keyed decimal sum before the lag window touches anything —
    * the window sorts a calendar-bounded series (84 months on this
    * corpus; bounded by TIME, not data volume, at any scale). */
  def monthlyRevenueMom(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val w = Window.orderBy("month")
    m.withColumn("prev", lag(col("rev"), 1).over(w))
      .select(col("month"),
        round(col("rev"), 2).cast("double").as("revenue"),
        round(col("rev") - col("prev"), 2).cast("double").as("delta"),
        round((col("rev") - col("prev")).cast("double") /
          col("prev").cast("double") * 100, 4).as("pct_change"))
      .orderBy("month")
  }

  val monthlyRevenueMomSql: String =
    """WITH m AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1
      |),
      |l AS (SELECT month, rev, lag(rev) OVER (ORDER BY month) AS prev FROM m)
      |SELECT month,
      |       CAST(round(rev, 2) AS DOUBLE) AS revenue,
      |       CAST(round(rev - prev, 2) AS DOUBLE) AS delta,
      |       round(CAST(rev - prev AS DOUBLE) / CAST(prev AS DOUBLE) * 100, 4)
      |         AS pct_change
      |FROM l ORDER BY month""".stripMargin

  /** Supplier-concentration HHI per nation — the Herfindahl–Hirschman
    * index over supplier revenue shares (Σ shareᵢ²): 1/n_suppliers =
    * perfectly even, → 1 = one supplier owns the nation. The market- or
    * feed-concentration number a sourcing/risk dashboard tracks; the
    * same formula monitors corpus source concentration.
    *
    * Scale shape: revenue collapses to (nation, supplier) cells in one
    * decimal-exact fact aggregate (map-side partials); nation totals are
    * a second aggregate over cells; the share arithmetic is per-cell.
    * Per-cell share² terms round to 9dp and sum as DECIMAL(18,9) so
    * partial order cannot move the result; shares divide exact decimals
    * once, so the pre-round doubles are bit-equal across engines. */
  def nationRevenueHhi(spark: SparkSession, dir: String): DataFrame = {
    val rev = expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))")
    val cells = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("s_suppkey").as("suppkey"))
      .agg(sum(rev).as("srev"))
    val totals = cells.groupBy("nation")
      .agg(sum(col("srev")).as("trev"), count(lit(1)).as("n_suppliers"))
    val share = col("srev").cast("double") / col("trev").cast("double")
    cells.join(totals, "nation")
      .withColumn("term", round(share * share, 9).cast("decimal(18,9)"))
      .groupBy("nation")
      .agg(first(col("n_suppliers")).as("n_suppliers"),
        round(first(col("trev")), 2).cast("double").as("revenue"),
        sum(col("term")).cast("double").as("hhi"))
      .orderBy("nation")
  }

  val nationRevenueHhiSql: String =
    """WITH cells AS (
      |  SELECT n_name AS nation, s_suppkey AS suppkey,
      |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS srev
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY n_name, s_suppkey
      |), totals AS (
      |  SELECT nation, sum(srev) AS trev, count(*) AS n_suppliers
      |  FROM cells GROUP BY nation
      |), terms AS (
      |  SELECT c.nation, t.n_suppliers, t.trev,
      |         CAST(round((CAST(c.srev AS DOUBLE) / CAST(t.trev AS DOUBLE))
      |                    * (CAST(c.srev AS DOUBLE) / CAST(t.trev AS DOUBLE)), 9)
      |              AS DECIMAL(18,9)) AS term
      |  FROM cells c JOIN totals t USING (nation)
      |)
      |SELECT nation, n_suppliers,
      |       CAST(round(trev, 2) AS DOUBLE) AS revenue,
      |       CAST(sum(term) AS DOUBLE) AS hhi
      |FROM terms GROUP BY nation, n_suppliers, trev
      |ORDER BY nation""".stripMargin

  /** Day-of-week order seasonality — ISO weekday (1 = Monday … 7 =
    * Sunday) order counts, revenue, and the seasonal index (7 × share of
    * weekly revenue; 1.0 = flat): the calendar-profile report behind
    * staffing and anomaly baselines. Spark's `weekday()` (0 = Monday)
    * +1 is DuckDB's `isodow` — the one dow numbering the two engines
    * can share without a remap table.
    *
    * Shape at 100 TB: one 7-cell conditional aggregate with map-side
    * partials (the fact stream collapses immediately); the index
    * divides by a broadcast 1-row total. Decimal revenue sums, 6dp
    * index rounding at the edge. */
  def dowSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .groupBy((weekday(col("o_orderdate")) + 1).as("dow"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val tot = cells.agg(sum(col("rev")).as("trev"))
    cells.crossJoin(broadcast(tot))
      .select(col("dow").cast("int").as("dow"), col("n_orders"),
        round(col("rev"), 2).cast("double").as("revenue"),
        round(lit(7.0) * col("rev").cast("double") / col("trev").cast("double"), 6)
          .as("rev_index"))
      .orderBy("dow")
  }

  val dowSeasonalitySql: String =
    """WITH cells AS (
      |  SELECT CAST(isodow(o_orderdate) AS INT) AS dow, count(*) AS n_orders,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1
      |), tot AS (SELECT sum(rev) AS trev FROM cells)
      |SELECT dow, n_orders, CAST(round(rev, 2) AS DOUBLE) AS revenue,
      |       round(7.0 * CAST(rev AS DOUBLE) / CAST(trev AS DOUBLE), 6) AS rev_index
      |FROM cells, tot ORDER BY dow""".stripMargin

  /** Region → nation revenue share — customer revenue rolled to the
    * geography hierarchy with each nation's share of its region and its
    * within-region rank: the hierarchical share-of-parent report every
    * warehouse publishes one level below `rollup_revenue`'s totals.
    *
    * Shape at 100 TB: the fact stream collapses per-customer FIRST (one
    * fact-keyed aggregate), then joins the customer dimension at equal
    * cardinality and collapses again to ≤ nations cells; nation/region
    * are broadcast tiny dims, and share/rank windows run over the
    * bounded cell frame. No fact-side row ever carries a dimension
    * payload. */
  def regionNationShare(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey").as("custkey"), col("c_nationkey"))
    val byNation = perCust.join(cust, "custkey")
      .groupBy(col("c_nationkey"))
      .agg(sum(col("n_orders")).as("n_orders"), sum(col("rev")).as("rev"))
    val geo = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name").as("nation"),
        col("r_name").as("region"))
    val w = Window.partitionBy(col("region"))
    byNation.join(broadcast(geo), col("c_nationkey") === col("n_nationkey"))
      .select(col("region"), col("nation"), col("n_orders"),
        round(col("rev"), 2).cast("double").as("revenue"),
        round(col("rev").cast("double") /
          sum(col("rev")).over(w).cast("double"), 6).as("region_share"),
        rank().over(w.orderBy(col("rev").desc)).cast("long").as("region_rank"))
      .orderBy("region", "nation")
  }

  val regionNationShareSql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey AS custkey, count(*) AS n_orders,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1
      |), by_nation AS (
      |  SELECT c_nationkey, CAST(sum(n_orders) AS BIGINT) AS n_orders,
      |         sum(rev) AS rev
      |  FROM per_cust JOIN customer ON custkey = c_custkey
      |  GROUP BY 1
      |)
      |SELECT r_name AS region, n_name AS nation, n_orders,
      |       CAST(round(rev, 2) AS DOUBLE) AS revenue,
      |       round(CAST(rev AS DOUBLE) /
      |             CAST(sum(rev) OVER (PARTITION BY r_name) AS DOUBLE), 6)
      |         AS region_share,
      |       CAST(rank() OVER (PARTITION BY r_name ORDER BY rev DESC) AS BIGINT)
      |         AS region_rank
      |FROM by_nation
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |ORDER BY region, nation""".stripMargin

  /** Cohort LTV matrix — customers grouped by first-order month, each
    * cohort's revenue laid out by months-since-acquisition, with the
    * running cumulative LTV per cohort member: the lifetime-value
    * triangle every subscription/commerce warehouse publishes (the
    * revenue twin of `retention_cohorts`).
    *
    * Shape at 100 TB: first-order month is one customer-keyed min
    * aggregate; the fact stream joins it customer-keyed and collapses
    * immediately to (cohort, offset) cells — months² cells bounded by
    * TIME, so the per-cohort cumulative window is calendar-bounded (the
    * `monthly_revenue_mom` stance). Revenue sums are decimal end-to-end;
    * the per-member division happens once at the edge, 6dp. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir).select(col("o_custkey").as("custkey"),
      date_trunc("month", col("o_orderdate")).cast("date").as("m"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    val cohort = o.groupBy("custkey").agg(min(col("m")).as("cohort_month"))
    val sizes = cohort.groupBy("cohort_month")
      .agg(count(lit(1)).as("cohort_size"))
    val offset = (year(col("m")) * 12 + month(col("m"))) -
      (year(col("cohort_month")) * 12 + month(col("cohort_month")))
    val cells = o.join(cohort, "custkey")
      .groupBy(col("cohort_month"), offset.as("month_offset"))
      .agg(sum(col("price")).as("rev"))
    val w = Window.partitionBy(col("cohort_month")).orderBy(col("month_offset"))
    cells.join(sizes, "cohort_month")
      .withColumn("cum_rev", sum(col("rev")).over(w))
      .select(col("cohort_month"), col("month_offset").cast("int").as("month_offset"),
        col("cohort_size"),
        round(col("rev"), 2).cast("double").as("revenue"),
        round(col("cum_rev").cast("double") / col("cohort_size"), 6).as("cum_ltv"))
      .orderBy("cohort_month", "month_offset")
  }

  val cohortLtvSql: String =
    """WITH o AS (
      |  SELECT o_custkey AS custkey,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders
      |), cohort AS (
      |  SELECT custkey, min(m) AS cohort_month FROM o GROUP BY 1
      |), sizes AS (
      |  SELECT cohort_month, count(*) AS cohort_size FROM cohort GROUP BY 1
      |), cells AS (
      |  SELECT c.cohort_month,
      |         (year(o.m) * 12 + month(o.m))
      |           - (year(c.cohort_month) * 12 + month(c.cohort_month)) AS month_offset,
      |         sum(o.price) AS rev
      |  FROM o JOIN cohort c USING (custkey)
      |  GROUP BY 1, 2
      |)
      |SELECT cells.cohort_month, CAST(month_offset AS INT) AS month_offset,
      |       cohort_size,
      |       CAST(round(rev, 2) AS DOUBLE) AS revenue,
      |       round(CAST(sum(rev) OVER (PARTITION BY cells.cohort_month
      |                                 ORDER BY month_offset) AS DOUBLE)
      |             / cohort_size, 6) AS cum_ltv
      |FROM cells JOIN sizes USING (cohort_month)
      |ORDER BY cohort_month, month_offset""".stripMargin

  /** ntile bucket count for [[customerPercentiles]]. */
  private val PctTiles = 4L

  /** Per-customer spend percentile report — percent_rank, cume_dist and
    * the ntile quartile over total customer spend, WITHOUT the global
    * single-partition window those functions normally plan: the total
    * order comes from [[Tables.globalRunningSum]] with
    * value = 1 (the two-phase `_pid` prefix-sum kernel, the `gini_spend`
    * pattern — no single-task window at any scale; r16 whitelist
    * retirement), and the three statistics are closed forms over that
    * position:
    *   - percent_rank = (rank − 1) / (n − 1) with rank = min position
    *     among spend peers (ties share a rank, exactly the SQL-standard
    *     peer semantics);
    *   - cume_dist = max peer position / n;
    *   - ntile(k) from the standard first-(n mod k)-buckets-get-one-extra
    *     split, on the (spend, custkey) total order (ntile has no peer
    *     concept — its tie order must be made deterministic, same
    *     tie-break in the oracle's OVER clause).
    *
    * Shape at 100 TB: the fact stream collapses under one customer-keyed
    * decimal sum; the id-stamp survives fact-sized customer counts by
    * construction; peer min/max is a window partitioned BY SPEND VALUE
    * (peer-group-sized partitions); n is a broadcast 1-row frame. The
    * single-row-corpus guard (n = 1 → percent_rank 0, the SQL-standard
    * value) avoids the ANSI 0/0 abort. */
  def customerPercentiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
    val ranked = Tables.globalRunningSum(spend,
      Seq(col("spend").asc, col("custkey").asc), lit(1L), "i")
    val tot = ranked.agg(count(lit(1)).as("n"))
    val peers = Window.partitionBy(col("spend"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("rnk", min(col("i")).over(peers))
      .withColumn("mxp", max(col("i")).over(peers))
      .withColumn("qq", expr(s"n div $PctTiles"))
      .withColumn("rr", col("n") - col("qq") * PctTiles)
      .select(
        col("custkey"),
        col("spend").cast("double").as("spend"),
        round(when(col("n") === 1, 0.0)
          .otherwise((col("rnk") - 1).cast("double") / (col("n") - 1)), 6)
          .as("pct_rank"),
        round(col("mxp").cast("double") / col("n"), 6).as("cume_dist"),
        // lazy CASE keeps the qq=0 (n < k) corner out of the div-by-zero
        // branch: there rr = n, so every i takes the first arm
        when(col("i") <= col("rr") * (col("qq") + 1),
          expr("(i - 1) div (qq + 1) + 1"))
          .otherwise(expr("rr + (i - rr * (qq + 1) - 1) div qq + 1"))
          .cast("long").as("quartile"))
      .orderBy("custkey")
  }

  val customerPercentilesSql: String =
    s"""WITH spend AS (
       |  SELECT o_custkey AS custkey,
       |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
       |  FROM orders GROUP BY 1
       |)
       |SELECT custkey, CAST(spend AS DOUBLE) AS spend,
       |       round(percent_rank() OVER (ORDER BY spend), 6) AS pct_rank,
       |       round(cume_dist() OVER (ORDER BY spend), 6) AS cume_dist,
       |       CAST(ntile($PctTiles) OVER (ORDER BY spend, custkey) AS BIGINT)
       |         AS quartile
       |FROM spend ORDER BY custkey""".stripMargin

  /** CUSUM changepoint scan over daily order revenue — the cumulative
    * sum of deviations from the corpus mean, S_t = Σ_{i≤t}(rev_i − μ),
    * peaks exactly where the series' level shifts; reporting the
    * arg-max |S_t| with the before/after segment means is the textbook
    * single-changepoint detector (Page's CUSUM, the offline form) every
    * monitoring pipeline runs on its daily KPIs.
    *
    * Cross-engine determinism is the design constraint: a running SUM
    * of doubles is combination-order-sensitive (DuckDB's windowed
    * aggregate uses segment trees; Spark's is sequential), so the
    * cumulative revenue is accumulated in DECIMAL — exact in both
    * engines under any combination order — and only the per-row scalar
    * arithmetic (S_t = cum − t·μ, the segment means) runs in double,
    * where identical per-row expressions give identical IEEE results.
    *
    * Shape at 100 TB: the fact stream collapses map-side to one row per
    * DATE before anything windows; both global windows (the date-ordered
    * cumulative walk and the peak ranking) run over that calendar-bounded
    * frame — the `monthly_revenue_mom` stance. Output is one row. The
    * peak-at-last-day edge (empty "after" segment) yields NULL
    * mean_after via an explicit guard: Spark's ANSI mode throws on the
    * division DuckDB would NULL. */
  def revenueCusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val totals = daily.agg(sum(col("rev")).as("tot"), count(lit(1)).as("n"))
    val wd = Window.orderBy(col("d"))
    val mean = col("tot").cast("double") / col("n")
    val s = daily.crossJoin(broadcast(totals))
      .withColumn("t", row_number().over(wd).cast("long"))
      .withColumn("cum", sum(col("rev")).over(wd))
      .withColumn("s_t", col("cum").cast("double") - col("t") * mean)
    val peak = Window.orderBy(abs(col("s_t")).desc, col("d"))
    s.withColumn("rk", row_number().over(peak))
      .filter(col("rk") === 1)
      .select(col("d").as("change_date"),
        col("n").as("n_days"),
        round(mean, 4).as("mean_daily"),
        round(col("s_t"), 4).as("cusum_peak"),
        round(col("cum").cast("double") / col("t"), 4).as("mean_before"),
        when(col("n") === col("t"), lit(null).cast("double"))
          .otherwise(round((col("tot") - col("cum")).cast("double") /
            (col("n") - col("t")), 4)).as("mean_after"))
  }

  /** Welch's two-sample t across the CUSUM changepoint — the TEST step
    * of the detect-then-test workflow: [[revenueCusumChangepoint]] finds
    * WHERE the daily-revenue level most plausibly shifted; this entry
    * splits the series there and asks whether the two segments' means
    * differ beyond their pooled noise (unequal-variance t, the honest
    * default). One row: segment sizes/means/stddevs, t, and the
    * Welch–Satterthwaite degrees of freedom.
    *
    * Shape at 100 TB: everything after the map-side date collapse rides
    * the calendar-bounded frame — the changepoint derivation is the
    * same two-window walk, the segment moments are decimal-exact
    * conditional sums in ONE aggregate, and the t arithmetic is per-row
    * double math. Degenerate segments (n < 2 on either side) yield NULL
    * t/df by explicit guard. */
  def changepointTtest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val totals = daily.agg(sum(col("rev")).as("tot"), count(lit(1)).as("n"))
    val wd = Window.orderBy(col("d"))
    val mean = col("tot").cast("double") / col("n")
    val s = daily.crossJoin(broadcast(totals))
      .withColumn("t", row_number().over(wd).cast("long"))
      .withColumn("cum", sum(col("rev")).over(wd))
      .withColumn("s_t", col("cum").cast("double") - col("t") * mean)
    val change = s
      .withColumn("rk", row_number().over(Window.orderBy(abs(col("s_t")).desc, col("d"))))
      .filter(col("rk") === 1).select(col("d").as("cd"))
    val sides = daily.crossJoin(broadcast(change))
      .withColumn("seg", when(col("d") <= col("cd"), lit("before")).otherwise(lit("after")))
      // DECIMAL(19,2): a daily revenue squared overflows DuckDB's
      // int64-backed DECIMAL(18) at sf0.1 cardinalities; 19 digits force
      // int128 there. Spark's r6*r6 result precision is p1+p2+1 = 39,
      // which EXCEEDS max 38 and takes the precision-loss scale
      // adjustment to DECIMAL(38,4) — parity with DuckDB's DECIMAL(38,4)
      // product is verified empirically (sf0.1 oracle pass), so any
      // further widening must re-run the second-scale oracle pass
      .withColumn("r6", col("rev").cast("decimal(19,2)"))
    val m = sides.groupBy(lit(1).as("k")).agg(
      first(col("cd")).as("change_date"),
      sum(when(col("seg") === "before", 1L).otherwise(0L)).as("n1"),
      sum(when(col("seg") === "after", 1L).otherwise(0L)).as("n2"),
      sum(when(col("seg") === "before", col("r6"))).as("s1"),
      sum(when(col("seg") === "after", col("r6"))).as("s2"),
      sum(when(col("seg") === "before", col("r6") * col("r6"))).as("ss1"),
      sum(when(col("seg") === "after", col("r6") * col("r6"))).as("ss2"))
    val (m1, m2) = (col("s1").cast("double") / col("n1"),
      col("s2").cast("double") / col("n2"))
    val v1 = (col("ss1").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / col("n1")) / (col("n1") - 1)
    val v2 = (col("ss2").cast("double") -
      col("s2").cast("double") * col("s2").cast("double") / col("n2")) / (col("n2") - 1)
    val se2 = v1 / col("n1") + v2 / col("n2")
    val tStat = (m2 - m1) / sqrt(se2)
    val df = se2 * se2 /
      (v1 * v1 / (col("n1") * col("n1") * (col("n1") - 1)) +
        v2 * v2 / (col("n2") * col("n2") * (col("n2") - 1)))
    val degenerate = col("n1") < 2 || col("n2") < 2
    m.select(col("change_date"), col("n1"), col("n2"),
      round(m1, 4).as("mean_before"), round(m2, 4).as("mean_after"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(round(tStat, 4)).as("t_stat"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(round(df, 2)).as("welch_df"))
  }

  val changepointTtestSql: String =
    """WITH daily AS (
      |  SELECT o_orderdate AS d,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1
      |), tot AS (
      |  SELECT sum(rev) AS tot, count(*) AS n FROM daily
      |), s AS (
      |  SELECT d,
      |         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
      |         sum(rev) OVER (ORDER BY d
      |                        ROWS BETWEEN UNBOUNDED PRECEDING
      |                        AND CURRENT ROW) AS cum,
      |         n, tot
      |  FROM daily CROSS JOIN tot
      |), sc AS (
      |  SELECT d, CAST(cum AS DOUBLE) - t * (CAST(tot AS DOUBLE) / n) AS s_t
      |  FROM s
      |), change AS (
      |  SELECT d AS cd FROM sc ORDER BY abs(s_t) DESC, d LIMIT 1
      |), sides AS (
      |  SELECT CASE WHEN d <= cd THEN 'before' ELSE 'after' END AS seg,
      |         CAST(rev AS DECIMAL(19,2)) AS r6, cd
      |  FROM daily CROSS JOIN change
      |), m AS (
      |  SELECT min(cd) AS change_date,
      |         CAST(sum(CASE WHEN seg = 'before' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN seg = 'after' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |         sum(CASE WHEN seg = 'before' THEN r6 END) AS s1,
      |         sum(CASE WHEN seg = 'after' THEN r6 END) AS s2,
      |         sum(CASE WHEN seg = 'before' THEN r6 * r6 END) AS ss1,
      |         sum(CASE WHEN seg = 'after' THEN r6 * r6 END) AS ss2
      |  FROM sides
      |), x AS (
      |  SELECT change_date, n1, n2,
      |         CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
      |         (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1)
      |           / (n1 - 1) AS v1,
      |         (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2)
      |           / (n2 - 1) AS v2
      |  FROM m
      |)
      |SELECT change_date, n1, n2,
      |       round(m1, 4) AS mean_before, round(m2, 4) AS mean_after,
      |       CASE WHEN n1 < 2 OR n2 < 2 THEN NULL
      |            ELSE round((m2 - m1) / sqrt(v1 / n1 + v2 / n2), 4)
      |       END AS t_stat,
      |       CASE WHEN n1 < 2 OR n2 < 2 THEN NULL
      |            ELSE round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)
      |                 / (v1 * v1 / (n1 * n1 * (n1 - 1))
      |                    + v2 * v2 / (n2 * n2 * (n2 - 1))), 2)
      |       END AS welch_df
      |FROM x""".stripMargin

  /** The two samples [[mannWhitneyValue]] contrasts. */
  private val MwGroupA = "purchase"
  private val MwGroupB = "click"

  /** Mann–Whitney U (Wilcoxon rank-sum) between purchase and click
    * event values — the NONPARAMETRIC two-sample location test: no
    * normality assumption, which for heavy-tailed value distributions
    * is the honest choice where the t-test's mean contrast misleads.
    * Midranks handle ties exactly, and the normal approximation carries
    * the standard tie-correction term.
    *
    * Shape at 100 TB: ranking never sorts the sample rows — values
    * collapse map-side to a DISTINCT-VALUE frame (bounded by the value
    * DOMAIN, here 2-decimal currency, not by sample size), midranks
    * come from a prefix sum over that frame, and the rank sums come
    * from joining the per-(value, group) counts back — integer/decimal
    * arithmetic end to end until the final z. */
  def mannWhitneyValue(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin(MwGroupA, MwGroupB) &&
        col("value").isNotNull)
      .select(col("event_type").as("g"), col("value").as("v"))
    val cells = e.groupBy("v", "g").agg(count(lit(1)).as("c"))
    val byValue = cells.groupBy("v").agg(sum(col("c")).as("cv"))
    // midrank of every row at value v: rows-before + (cv + 1)/2, the
    // prefix over the distinct-value frame from the two-phase `_pid`
    // kernel (r16 whitelist retirement — was a global window)
    val ranked = Tables.globalRunningSum(byValue,
        Seq(col("v")), col("cv"), "cum_cv")
      .withColumn("before", col("cum_cv") - col("cv"))
      .withColumn("midrank",
        col("before").cast("decimal(28,1)") +
          (col("cv").cast("decimal(28,1)") + 1) / 2)
    // tie correction Σ (cv³ − cv) counted ONCE per distinct value — its
    // own 1-row aggregate (folding it into the per-cell aggregate would
    // need a c/cv division, whose decimal scale rules differ per engine)
    val ties1 = byValue.agg(
      sum(col("cv") * col("cv") * col("cv") - col("cv")).as("ties"))
    val m = cells.join(ranked, "v")
      .groupBy(lit(1).as("k"))
      .agg(
        sum(when(col("g") === MwGroupA, col("c")).otherwise(0L)).as("n1"),
        sum(when(col("g") === MwGroupB, col("c")).otherwise(0L)).as("n2"),
        sum(when(col("g") === MwGroupA,
          col("midrank") * col("c"))).as("r1"))
      .crossJoin(broadcast(ties1))
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val n = n1d + n2d
    val u1 = col("r1").cast("double") - n1d * (n1d + 1) / 2
    val mu = n1d * n2d / 2
    val sigma = sqrt(n1d * n2d / 12 *
      ((n + 1) - col("ties").cast("double") / (n * (n - 1))))
    m.select(col("n1"), col("n2"),
      round(u1, 1).as("u_stat"),
      when(col("n1") === 0 || col("n2") === 0, lit(null).cast("double"))
        .otherwise(round((u1 - mu) / sigma, 4)).as("z_score"))
  }

  val mannWhitneyValueSql: String =
    s"""WITH e AS (
       |  SELECT event_type AS g, value AS v FROM events
       |  WHERE event_type IN ('$MwGroupA', '$MwGroupB') AND value IS NOT NULL
       |), cells AS (
       |  SELECT v, g, count(*) AS c FROM e GROUP BY 1, 2
       |), by_value AS (
       |  SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM cells GROUP BY 1
       |), ranked AS (
       |  SELECT v, cv,
       |         CAST(coalesce(sum(cv) OVER (ORDER BY v
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS BIGINT) AS before,
       |         CAST(coalesce(sum(cv) OVER (ORDER BY v
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |              AS DECIMAL(28,1))
       |           + (CAST(cv AS DECIMAL(28,1)) + 1) / 2 AS midrank
       |  FROM by_value
       |), t1 AS (
       |  SELECT CAST(sum(cv * cv * cv - cv) AS BIGINT) AS ties FROM by_value
       |), m AS (
       |  SELECT
       |    CAST(sum(CASE WHEN g = '$MwGroupA' THEN c ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN g = '$MwGroupB' THEN c ELSE 0 END) AS BIGINT) AS n2,
       |    sum(CASE WHEN g = '$MwGroupA' THEN midrank * c END) AS r1,
       |    (SELECT ties FROM t1) AS ties
       |  FROM cells JOIN ranked USING (v)
       |), x AS (
       |  SELECT n1, n2,
       |         CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
       |         CAST(r1 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1) / 2 AS u1,
       |         CAST(ties AS DOUBLE) AS tie_term
       |  FROM m
       |)
       |SELECT n1, n2, round(u1, 1) AS u_stat,
       |       CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
       |            ELSE round((u1 - n1d * n2d / 2)
       |                 / sqrt(n1d * n2d / 12 *
       |                        ((n1d + n2d + 1)
       |                         - tie_term / ((n1d + n2d) * (n1d + n2d - 1)))),
       |                 4)
       |       END AS z_score
       |FROM x""".stripMargin

  /** Spearman rank correlation between event value and hour-of-day —
    * the robust twin of `value_hour_corr`'s Pearson: monotone
    * association on midranks, immune to the heavy value tail that can
    * swamp a raw-moment correlation. Midranks per variable come from
    * the [[mannWhitneyValue]] machinery — prefix sums over each
    * variable's DISTINCT-value frame (domain-bounded: 2-decimal
    * currency and 24 hours), broadcast back to the event stream; the
    * rank moments then accumulate as exact decimals in one pass, and
    * rho derives from them in per-row double math.
    *
    * Shape at 100 TB: two bounded rank frames + one map-side-combined
    * moment aggregate over the events — the sample itself is never
    * sorted. */
  def spearmanValueHour(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("value").as("x"), hour(col("ts")).cast("long").as("y"))
    // per-variable midranks over the distinct-value frame via the
    // two-phase `_pid` prefix sum (r16 whitelist retirement)
    def midranks(df: DataFrame, c: String): DataFrame =
      Tables.globalRunningSum(
          df.groupBy(c).agg(count(lit(1)).as("cv")),
          Seq(col(c)), col("cv"), "cum_cv")
        .select(col(c),
          ((col("cum_cv") - col("cv")).cast("decimal(18,1)") +
            (col("cv").cast("decimal(18,1)") + 1) / 2).as(s"r_$c"))
    val ranked = e
      .join(broadcast(midranks(e, "x")), "x")
      .join(broadcast(midranks(e, "y")), "y")
    val m = ranked.agg(count(lit(1)).as("n"),
      sum(col("r_x")).as("sx"), sum(col("r_y")).as("sy"),
      sum(col("r_x") * col("r_x")).as("sxx"),
      sum(col("r_y") * col("r_y")).as("syy"),
      sum(col("r_x") * col("r_y")).as("sxy"))
    val nD = col("n").cast("double")
    val cov = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val vx = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vy = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    m.select(col("n"), round(cov / sqrt(vx * vy), 6).as("spearman_rho"))
  }

  val spearmanValueHourSql: String =
    """WITH e AS (
      |  SELECT value AS x, CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS y
      |  FROM events WHERE value IS NOT NULL
      |), rx AS (
      |  SELECT x,
      |         CAST(coalesce(sum(cv) OVER (ORDER BY x
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |              AS DECIMAL(18,1))
      |           + (CAST(cv AS DECIMAL(18,1)) + 1) / 2 AS r_x
      |  FROM (SELECT x, count(*) AS cv FROM e GROUP BY 1)
      |), ry AS (
      |  SELECT y,
      |         CAST(coalesce(sum(cv) OVER (ORDER BY y
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |              AS DECIMAL(18,1))
      |           + (CAST(cv AS DECIMAL(18,1)) + 1) / 2 AS r_y
      |  FROM (SELECT y, count(*) AS cv FROM e GROUP BY 1)
      |), m AS (
      |  SELECT count(*) AS n,
      |         sum(r_x) AS sx, sum(r_y) AS sy,
      |         sum(r_x * r_x) AS sxx, sum(r_y * r_y) AS syy,
      |         sum(r_x * r_y) AS sxy
      |  FROM e JOIN rx USING (x) JOIN ry USING (y)
      |)
      |SELECT n,
      |       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
      |             6) AS spearman_rho
      |FROM m""".stripMargin

  /** Oracle: same decimal cumulative walk and double edge arithmetic. */
  val revenueCusumChangepointSql: String =
    """WITH daily AS (
      |  SELECT o_orderdate AS d,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1
      |), tot AS (
      |  SELECT sum(rev) AS tot, count(*) AS n FROM daily
      |), s AS (
      |  SELECT d, n, tot,
      |         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
      |         sum(rev) OVER (ORDER BY d
      |                        ROWS BETWEEN UNBOUNDED PRECEDING
      |                        AND CURRENT ROW) AS cum
      |  FROM daily CROSS JOIN tot
      |), sc AS (
      |  SELECT *, CAST(cum AS DOUBLE) - t * (CAST(tot AS DOUBLE) / n) AS s_t
      |  FROM s
      |)
      |SELECT d AS change_date, n AS n_days,
      |       round(CAST(tot AS DOUBLE) / n, 4) AS mean_daily,
      |       round(s_t, 4) AS cusum_peak,
      |       round(CAST(cum AS DOUBLE) / t, 4) AS mean_before,
      |       CASE WHEN n = t THEN NULL
      |            ELSE round(CAST(tot - cum AS DOUBLE) / (n - t), 4)
      |       END AS mean_after
      |FROM sc
      |ORDER BY abs(s_t) DESC, d
      |LIMIT 1""".stripMargin

  /** [[cusumAlerts]] parameters: the slack inflates the per-type target
    * mean so in-control noise drifts the statistic DOWN (Page's k), and
    * the decision interval h is the alert line. */
  private val CusumSlackFrac = 0.10
  private val CusumH = 500.0

  /** Online CUSUM backtest over the event stream — Page's one-sided
    * cumulative-sum detector, S_t = max(0, S_{t-1} + (x_t − μ·(1+k))),
    * run per event type over the full history; every event where S_t
    * exceeds [[CusumH]] is an alert row. The recursion has the classic
    * prefix closed form S_t = P_t − min(0, min_{j≤t} P_j) with
    * P = Σ d, which is what makes a BATCH backtest of an inherently
    * sequential detector expressible as windows at all.
    *
    * Shape at 100 TB — the naive form is one giant per-type window (a
    * fact-sized partition: events of ONE type ordered by time through a
    * single task). This kernel two-phases it like `seq_gap_check`:
    * rows bucket by month, the running sum/min windows run INSIDE each
    * (type, month) partition (distributed, calendar-width tasks), and
    * the cross-bucket carry — each month's starting offset and the
    * running minimum of all earlier months — windows over the per-month
    * SUMMARY frame (types × months rows, calendar-bounded). Identical
    * output to the naive window (the oracle IS the naive window), any
    * partition count. Deviations are 6dp-rounded then decimal-summed, so
    * prefix sums are combination-order-exact in both engines. */
  def cusumAlerts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("ts"), col("value"))
    val mu = e.groupBy("event_type")
      .agg((sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("mu"))
    val d = e.join(mu, "event_type")
      .select(col("event_type"), col("event_id"), col("ts"),
        round(col("value") - col("mu") * (1.0 + CusumSlackFrac), 6)
          .cast("decimal(18,6)").as("d"),
        date_trunc("month", col("ts")).cast("date").as("b"))
    // phase 1: running sum + running min inside each (type, month)
    val wIn = Window.partitionBy("event_type", "b")
      .orderBy(col("ts"), col("event_id"))
    val intra = d
      .withColumn("sp", sum(col("d")).over(wIn))
      .withColumn("mp", min(col("sp")).over(wIn))
    // phase 2: per-(type, month) summary → starting offset of each month
    // (exclusive prefix sum) and the running min of all EARLIER months'
    // absolute prefix minima — a types × months frame
    val wB = Window.partitionBy("event_type").orderBy("b")
    val summary = d.groupBy("event_type", "b")
      .agg(sum(col("d")).as("tot"))
      .withColumn("off",
        coalesce(sum(col("tot")).over(wB.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0).cast("decimal(28,6)")))
    val bucketMin = intra.groupBy("event_type", "b")
      .agg(min(col("sp")).as("bmin"))
      .join(summary, Seq("event_type", "b"))
      .withColumn("prev_min",
        min(col("off") + col("bmin"))
          .over(wB.rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("event_type"), col("b"), col("off"), col("prev_min"))
    val s = intra.join(bucketMin, Seq("event_type", "b"))
      .withColumn("p", col("off") + col("sp"))
      .withColumn("gmin",
        least(lit(0).cast("decimal(28,6)"),
          coalesce(col("prev_min"), col("off") + col("mp")),
          col("off") + col("mp")))
      .withColumn("cusum", (col("p") - col("gmin")).cast("double"))
    s.filter(col("cusum") > CusumH)
      .select(col("event_type"), col("event_id"), col("ts"),
        round(col("cusum"), 6).as("cusum"))
      .orderBy("event_type", "ts", "event_id")
  }

  /** Oracle: the naive single-window global form — correct at any SF,
    * fact-sized partitions at scale, which is exactly why the engine
    * path two-phases it. */
  val cusumAlertsSql: String =
    s"""WITH m AS (
       |  SELECT event_type,
       |         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)
       |           AS mu
       |  FROM events GROUP BY 1
       |), d AS (
       |  SELECT e.event_type, event_id, ts,
       |         CAST(round(value - mu * ${1.0 + CusumSlackFrac}, 6)
       |              AS DECIMAL(18,6)) AS d
       |  FROM events e JOIN m USING (event_type)
       |), p AS (
       |  SELECT event_type, event_id, ts,
       |         sum(d) OVER (PARTITION BY event_type ORDER BY ts, event_id
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS pp
       |  FROM d
       |), q AS (
       |  SELECT event_type, event_id, ts, pp,
       |         min(pp) OVER (PARTITION BY event_type ORDER BY ts, event_id
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           AS mp
       |  FROM p
       |), s AS (
       |  SELECT event_type, event_id, ts,
       |         CAST(pp - least(CAST(0 AS DECIMAL(28,6)), mp) AS DOUBLE)
       |           AS cusum
       |  FROM q
       |)
       |SELECT event_type, event_id, ts, round(cusum, 6) AS cusum
       |FROM s WHERE cusum > $CusumH
       |ORDER BY event_type, ts, event_id""".stripMargin

  /** Fixed yearly-spend band edges for [[spendBandMigration]] — chosen
    * near this corpus's per-customer-year quartiles so every band is
    * populated. FIXED thresholds, not ntile: banding must be stable
    * year over year for a migration matrix to mean anything (an ntile
    * band would relabel everyone whenever the distribution moves —
    * exactly the drift the matrix is supposed to SHOW). */
  private val BandEdges = Seq(250000.0, 450000.0, 700000.0)
  private val BandNames = Seq("low", "mid", "high", "top")

  /** Customer spend-band migration matrix — each customer's yearly
    * spend banded by [[BandEdges]], then the year-over-year transition
    * counts between consecutive ACTIVE years: the upgrade/downgrade/
    * churn-adjacent flow report every subscription and commerce
    * warehouse publishes. Consecutive means consecutive OBSERVED years
    * for the customer; a dormant year shows up as a gap (the matrix
    * counts observed transitions, `year_gap` preserves the distinction
    * rather than hiding it).
    *
    * Shape at 100 TB: the fact stream collapses map-side to (customer,
    * year) cells first — everything after rides that dimension×calendar
    * frame: the lag is a customer-keyed partitioned window over ≤
    * years-per-customer rows, and the matrix is a bands² × gap counter
    * aggregate. Spend sums are decimal; band edges compare against the
    * exact decimal, so no float wobble can flip a band. */
  def spendBandMigration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def band(c: Column): Column =
      BandEdges.zip(BandNames.init).foldRight(lit(BandNames.last)) {
        case ((hi, name), acc) => when(c < hi, lit(name)).otherwise(acc)
      }
    val yearly = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"),
        year(col("o_orderdate")).cast("long").as("y"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"))
      .select(col("custkey"), col("y"), band(col("spend")).as("band"))
    val w = Window.partitionBy("custkey").orderBy("y")
    yearly
      .withColumn("prev_band", lag(col("band"), 1).over(w))
      .withColumn("prev_y", lag(col("y"), 1).over(w))
      .filter(col("prev_band").isNotNull)
      .groupBy(col("prev_band").as("from_band"),
        col("band").as("to_band"),
        (col("y") - col("prev_y")).as("year_gap"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("from_band", "to_band", "year_gap")
  }

  val spendBandMigrationSql: String = {
    val bandCase = BandEdges.zip(BandNames.init)
      .map { case (hi, name) => s"WHEN spend < $hi THEN '$name'" }
      .mkString(" ")
    s"""WITH yearly AS (
       |  SELECT o_custkey AS custkey, CAST(year(o_orderdate) AS BIGINT) AS y,
       |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
       |  FROM orders GROUP BY 1, 2
       |), banded AS (
       |  SELECT custkey, y,
       |         CASE $bandCase ELSE '${BandNames.last}' END AS band
       |  FROM yearly
       |), lagged AS (
       |  SELECT band, y,
       |         lag(band) OVER w AS prev_band,
       |         lag(y) OVER w AS prev_y
       |  FROM banded
       |  WINDOW w AS (PARTITION BY custkey ORDER BY y)
       |)
       |SELECT prev_band AS from_band, band AS to_band,
       |       y - prev_y AS year_gap, count(*) AS n_customers
       |FROM lagged WHERE prev_band IS NOT NULL
       |GROUP BY 1, 2, 3
       |ORDER BY from_band, to_band, year_gap""".stripMargin
  }

  /** Seasonal-naive revenue forecast backtest — forecast(month m) =
    * actual(m − 12 months), evaluated with the absolute percentage
    * error per month: the baseline every forecasting effort must beat
    * before anything fancier earns its keep (and the standard
    * denominator of MASE). Months without a year-ago observation emit
    * no row; the lookup is a self-JOIN on the calendar month index, not
    * a lag-12 — a lag would silently grab the 12th PRESENT month across
    * any gap.
    *
    * Shape at 100 TB: the fact stream collapses map-side to one row per
    * month; the self-join and error arithmetic ride that calendar-
    * bounded frame. Revenue stays decimal into the APE division, done
    * once per row at the edge. */
  def seasonalNaiveForecast(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(((year(col("o_orderdate")) * 12) + month(col("o_orderdate")) - 1)
        .cast("long").as("midx"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val lag12 = monthly.select((col("midx") + 12).as("midx"),
      col("rev").as("forecast"))
    monthly.join(lag12, "midx")
      .select(
        make_date((col("midx") / 12).cast("int"),
          (col("midx") % 12).cast("int") + 1, lit(1)).as("month"),
        round(col("rev"), 2).cast("double").as("actual"),
        round(col("forecast"), 2).cast("double").as("forecast"),
        round(abs(col("rev") - col("forecast")).cast("double") /
          col("rev").cast("double"), 6).as("ape"))
      .orderBy("month")
  }

  val seasonalNaiveForecastSql: String =
    """WITH monthly AS (
      |  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
      |           AS midx,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1
      |)
      |SELECT make_date(CAST(a.midx // 12 AS INT),
      |                 CAST(a.midx % 12 AS INT) + 1, 1) AS month,
      |       CAST(round(a.rev, 2) AS DOUBLE) AS actual,
      |       CAST(round(f.rev, 2) AS DOUBLE) AS forecast,
      |       round(CAST(abs(a.rev - f.rev) AS DOUBLE)
      |             / CAST(a.rev AS DOUBLE), 6) AS ape
      |FROM monthly a JOIN monthly f ON a.midx = f.midx + 12
      |ORDER BY month""".stripMargin

  /** Daily revenue volatility — the sample standard deviation of daily
    * percentage returns r_t = rev_t / rev_{t-1} − 1, the risk metric
    * finance dashboards track beside the level series. Returns are
    * computed between consecutive OBSERVED days (the `monthly_revenue_mom`
    * lag stance), 6dp-rounded before the moment sums so both engines
    * aggregate identical decimals; the stddev derives from decimal-exact
    * moments in per-row double arithmetic (the `embedding_dim_stats`
    * discipline — never a float stddev aggregate, whose combination
    * order differs across engines).
    *
    * Shape at 100 TB: the fact stream collapses to one row per date
    * map-side; the lag and the 1-row moment reduce ride the
    * calendar-bounded frame. */
  def revenueVolatility(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val w = Window.orderBy("d")
    val ret = daily
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(round(col("rev").cast("double") / col("prev").cast("double") - 1.0, 6)
        .cast("decimal(18,6)").as("r"))
    ret.agg(count(lit(1)).as("n_returns"),
      sum(col("r")).as("sr"), sum(col("r") * col("r")).as("srr"))
      .select(col("n_returns"),
        round(col("sr").cast("double") / col("n_returns"), 6).as("mean_return"),
        round(sqrt((col("srr").cast("double") -
          col("sr").cast("double") * col("sr").cast("double") / col("n_returns")) /
          (col("n_returns") - 1)), 6).as("volatility"))
  }

  val revenueVolatilitySql: String =
    """WITH daily AS (
      |  SELECT o_orderdate AS d,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1
      |), ret AS (
      |  SELECT CAST(round(CAST(rev AS DOUBLE)
      |                    / CAST(lag(rev) OVER (ORDER BY d) AS DOUBLE)
      |                    - 1.0, 6) AS DECIMAL(18,6)) AS r
      |  FROM daily
      |  QUALIFY lag(rev) OVER (ORDER BY d) IS NOT NULL
      |), a AS (
      |  SELECT count(*) AS n_returns, sum(r) AS sr, sum(r * r) AS srr FROM ret
      |)
      |SELECT n_returns,
      |       round(CAST(sr AS DOUBLE) / n_returns, 6) AS mean_return,
      |       round(sqrt((CAST(srr AS DOUBLE)
      |                   - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / n_returns)
      |                  / (n_returns - 1)), 6) AS volatility
      |FROM a""".stripMargin

  /** Year-over-year growth decomposition — revenue growth split into
    * its two drivers, order-count growth and average-order-value
    * growth: growth factors multiply (rev₁/rev₀ = (n₁/n₀)·(aov₁/aov₀)),
    * so the report answers "did we grow because more orders came in, or
    * because orders got bigger" — the first question any revenue review
    * asks of a growth number.
    *
    * Shape at 100 TB: one map-side year collapse; the self-join and all
    * ratios ride the years-bounded frame. Revenue stays decimal to the
    * division edge; the multiplicative identity is pinned in the spec. */
  def growthDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val yearly = Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).cast("long").as("y"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val prev = yearly.select((col("y") + 1).as("y"),
      col("n_orders").as("n0"), col("rev").as("rev0"))
    yearly.join(prev, "y")
      .select(col("y").as("year"),
        col("n_orders"),
        round(col("rev"), 2).cast("double").as("revenue"),
        round(col("rev").cast("double") / col("rev0").cast("double") - 1.0, 6)
          .as("revenue_growth"),
        round(col("n_orders").cast("double") / col("n0") - 1.0, 6)
          .as("volume_growth"),
        round((col("rev").cast("double") / col("n_orders")) /
          (col("rev0").cast("double") / col("n0")) - 1.0, 6)
          .as("aov_growth"))
      .orderBy("year")
  }

  val growthDecompositionSql: String =
    """WITH yearly AS (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
      |         count(*) AS n_orders,
      |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1
      |)
      |SELECT a.y AS year, a.n_orders,
      |       CAST(round(a.rev, 2) AS DOUBLE) AS revenue,
      |       round(CAST(a.rev AS DOUBLE) / CAST(p.rev AS DOUBLE) - 1.0, 6)
      |         AS revenue_growth,
      |       round(CAST(a.n_orders AS DOUBLE) / p.n_orders - 1.0, 6)
      |         AS volume_growth,
      |       round((CAST(a.rev AS DOUBLE) / a.n_orders)
      |             / (CAST(p.rev AS DOUBLE) / p.n_orders) - 1.0, 6)
      |         AS aov_growth
      |FROM yearly a JOIN yearly p ON a.y = p.y + 1
      |ORDER BY year""".stripMargin
}
