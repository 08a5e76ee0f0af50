package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.RunScope.ScratchCacheOps

/** Analytical query surface — Spark-native rebuilds of the reference's
  * analysis.sql Q1–Q3 shapes (reference: analysis.sql:13-238), mapped onto
  * the driver corpus per FIXTURES.md: company→supplier.s_name,
  * state→customer's nation (n_name), timely_response→(l_returnflag='N'),
  * consumer_disputed→(l_linestatus='F'), category 4-tuple→
  * (p_brand, p_type, o_orderpriority, o_orderstatus).
  *
  * Design notes for 100 TB scale:
  *  - nation/region are constant-size → broadcast. supplier/part/customer
  *    scale with SF → no broadcast hint; AQE picks broadcast at small SF
  *    and shuffle-hash/sort-merge at large SF.
  *  - the global (unpartitioned) RANK windows mirror analysis.sql:49-50;
  *    they run on the *aggregated* table (one row per company), which is
  *    dimension-sized even at 100 TB — the single-partition window is fine
  *    because the groupBy already reduced cardinality.
  *  - ratios are count/count double divisions (deterministic IEEE ops on
  *    both engines), so RANK ordering is engine-stable.
  *  - every ROW_NUMBER / LIMIT the reference leaves tie-ambiguous
  *    (analysis.sql:188-190, 202, 214, 229) gets an explicit tie-breaker
  *    column so Spark and the DuckDB oracle agree (SURVEY.md §5).
  */
object Queries {

  /** Q1a flagship (analysis.sql:13-57): per-company response counts,
    * filtered aggregates, HAVING floor, ratio projection, dual global RANK,
    * disjunctive rank filter, presentation ORDER BY.
    * Operators: A1 A2 A3 A5 A8 W1 P6 O1 F6 J1. The supplier join carries
    * no broadcast hint — supplier scales with SF (~10⁹ rows at 100 TB), so
    * strategy choice is left to AQE, which still picks broadcast at small
    * SF from runtime stats and switches to shuffle join at scale. */
  def q1RatioRank(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val agg = li
      .join(sup, li("l_suppkey") === sup("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(
        count(lit(1)).as("total_responses"),
        count(when(col("l_returnflag") === "N", 1)).as("timely_responses"),
        count(when(col("l_returnflag") =!= "N", 1)).as("untimely_responses"))
      .filter(col("total_responses") >= 10) // HAVING (analysis.sql:26-27)
    val raw = col("timely_responses") / col("total_responses")
    val ranked = agg
      .withColumn("timely_rank", rank().over(Window.orderBy(raw.desc)).cast("long"))
      .withColumn("untimely_rank", rank().over(Window.orderBy(raw.asc)).cast("long"))
    ranked
      .filter(col("timely_rank") <= 10 || col("untimely_rank") <= 10)
      .select(
        col("s_name"), col("total_responses"), col("timely_responses"),
        col("untimely_responses"),
        round(raw, 6).as("timely_response_ratio"),
        round(lit(1) - raw, 6).as("untimely_response_ratio"),
        col("timely_rank"), col("untimely_rank"))
      .orderBy(col("timely_rank"), col("s_name"))
  }

  val q1RatioRankSql: String =
    """WITH agg AS (
      |  SELECT s_name,
      |         count(*) AS total_responses,
      |         count(CASE WHEN l_returnflag = 'N' THEN 1 END) AS timely_responses,
      |         count(CASE WHEN l_returnflag <> 'N' THEN 1 END) AS untimely_responses
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY s_name
      |  HAVING count(*) >= 10
      |), ranked AS (
      |  SELECT agg.*,
      |         timely_responses / total_responses AS tr_raw,
      |         RANK() OVER (ORDER BY timely_responses / total_responses DESC) AS timely_rank,
      |         RANK() OVER (ORDER BY timely_responses / total_responses ASC)  AS untimely_rank
      |  FROM agg
      |)
      |SELECT s_name, total_responses, timely_responses, untimely_responses,
      |       round(tr_raw, 6) AS timely_response_ratio,
      |       round(1 - tr_raw, 6) AS untimely_response_ratio,
      |       timely_rank, untimely_rank
      |FROM ranked
      |WHERE timely_rank <= 10 OR untimely_rank <= 10
      |ORDER BY timely_rank, s_name""".stripMargin

  /** Q1b disputed twin (analysis.sql:63-107): identical shape to Q1a over
    * the consumer_disputed measure. The undisputed rank/ratio come directly
    * from undisputed_count (mirroring the reference's ORDER BY
    * undisputed_response_ratio DESC, analysis.sql:99-100) rather than as
    * complements of the disputed ratio — the complement identity only holds
    * for non-null binary flags. Operators: A1 A2 A3 A5 A8 W1 P6 O1. */
  def q1bDisputedRank(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val agg = li
      .join(sup, li("l_suppkey") === sup("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(
        count(lit(1)).as("total_responses"),
        count(when(col("l_linestatus") === "F", 1)).as("disputed_count"),
        count(when(col("l_linestatus") =!= "F", 1)).as("undisputed_count"))
      .filter(col("total_responses") >= 10)
    val dRaw = col("disputed_count") / col("total_responses")
    val uRaw = col("undisputed_count") / col("total_responses")
    val ranked = agg
      .withColumn("disputed_rank", rank().over(Window.orderBy(dRaw.desc)).cast("long"))
      .withColumn("undisputed_rank", rank().over(Window.orderBy(uRaw.desc)).cast("long"))
    ranked
      .filter(col("disputed_rank") <= 10 || col("undisputed_rank") <= 10)
      .select(
        col("s_name"), col("total_responses"),
        round(dRaw, 6).as("disputed_response_ratio"),
        round(uRaw, 6).as("undisputed_response_ratio"),
        col("disputed_rank"), col("undisputed_rank"))
      .orderBy(col("undisputed_rank"), col("s_name"))
  }

  val q1bDisputedRankSql: String =
    """WITH agg AS (
      |  SELECT s_name,
      |         count(*) AS total_responses,
      |         count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS disputed_count,
      |         count(CASE WHEN l_linestatus <> 'F' THEN 1 END) AS undisputed_count
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY s_name
      |  HAVING count(*) >= 10
      |), ranked AS (
      |  SELECT agg.*,
      |         disputed_count / total_responses AS dr_raw,
      |         undisputed_count / total_responses AS ur_raw,
      |         RANK() OVER (ORDER BY disputed_count / total_responses DESC)   AS disputed_rank,
      |         RANK() OVER (ORDER BY undisputed_count / total_responses DESC) AS undisputed_rank
      |  FROM agg
      |)
      |SELECT s_name, total_responses,
      |       round(dr_raw, 6) AS disputed_response_ratio,
      |       round(ur_raw, 6) AS undisputed_response_ratio,
      |       disputed_rank, undisputed_rank
      |FROM ranked
      |WHERE disputed_rank <= 10 OR undisputed_rank <= 10
      |ORDER BY undisputed_rank, s_name""".stripMargin

  /** SQL fragment shared by Q1c/Q2/Q3: the distinct company list from the
    * union of Q1a and Q1b winners (analysis.sql:110-116). Both CTE chains
    * aggregate the same join with the same HAVING floor, so the union of the
    * two rank-filtered lists equals a single aggregation with all four ranks
    * and a disjunctive filter — one fact scan instead of two. */
  private val companiesCteSql: String =
    """stats AS (
      |  SELECT s_name, count(*) AS total_responses,
      |         count(CASE WHEN l_returnflag = 'N' THEN 1 END)  AS timely_responses,
      |         count(CASE WHEN l_linestatus = 'F' THEN 1 END)  AS disputed_count,
      |         count(CASE WHEN l_linestatus <> 'F' THEN 1 END) AS undisputed_count
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY s_name HAVING count(*) >= 10
      |), rstats AS (
      |  SELECT s_name,
      |         RANK() OVER (ORDER BY timely_responses / total_responses DESC)  AS tr,
      |         RANK() OVER (ORDER BY timely_responses / total_responses ASC)   AS ur,
      |         RANK() OVER (ORDER BY disputed_count / total_responses DESC)    AS dr,
      |         RANK() OVER (ORDER BY undisputed_count / total_responses DESC)  AS udr
      |  FROM stats
      |), comp AS (
      |  SELECT s_name AS company FROM rstats
      |  WHERE tr <= 10 OR ur <= 10 OR dr <= 10 OR udr <= 10
      |)""".stripMargin

  /** Q1c (analysis.sql:110-116): distinct union of the Q1a and Q1b company
    * lists. Operators: U2 A7. Both lists come from the same per-company
    * aggregate (same join, same HAVING), so instead of two fact scans
    * union-ed (Spark union is UNION ALL → would need distinct), this computes
    * ONE aggregation, all four ranks over it, and a disjunctive filter —
    * set-identical output, half the fact I/O. groupBy guarantees s_name
    * uniqueness, so no distinct is needed. */
  def q1cCompanies(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val stats = li
      .join(sup, li("l_suppkey") === sup("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(
        count(lit(1)).as("total_responses"),
        count(when(col("l_returnflag") === "N", 1)).as("timely_responses"),
        count(when(col("l_linestatus") === "F", 1)).as("disputed_count"),
        count(when(col("l_linestatus") =!= "F", 1)).as("undisputed_count"))
      .filter(col("total_responses") >= 10)
    val t = col("timely_responses") / col("total_responses")
    val d = col("disputed_count") / col("total_responses")
    val u = col("undisputed_count") / col("total_responses")
    stats
      .withColumn("tr", rank().over(Window.orderBy(t.desc)))
      .withColumn("ur", rank().over(Window.orderBy(t.asc)))
      .withColumn("dr", rank().over(Window.orderBy(d.desc)))
      .withColumn("udr", rank().over(Window.orderBy(u.desc)))
      .filter(col("tr") <= 10 || col("ur") <= 10 || col("dr") <= 10 || col("udr") <= 10)
      .select(col("s_name").as("company"))
      .orderBy("company")
  }

  val q1cCompaniesSql: String =
    s"""WITH $companiesCteSql
       |SELECT company FROM comp ORDER BY company""".stripMargin

  /** The temp_cf analog (analysis.sql:159-165 inner select): the denormalized
    * complaint-fact view joining all dimensions, restricted to the rows of
    * `companies` (one `company` column). nation/region broadcast;
    * supplier/part/customer joins left to AQE (they scale with SF).
    *
    * The company filter is a semi-join on the supplier input, and supplier
    * joins lineitem first, so only those suppliers' lineitem rows reach the
    * orders, customer, nation and part joins. That is the same row set as
    * semi-joining the finished view on `company` (= s_name, an inner-join
    * column), but Catalyst does not push a semi-join below the view's
    * `select`, so written that way every lineitem row went through all six
    * joins. Supplier carries no broadcast hint: it scales with SF. */
  private def cfBase(spark: SparkSession, dir: String, companies: DataFrame): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val s = Tables.supplier(spark, dir)
      .join(broadcast(companies), col("s_name") === companies("company"), "left_semi")
    val p = Tables.part(spark, dir)
    li.join(s, li("l_suppkey") === s("s_suppkey"))
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(p, li("l_partkey") === p("p_partkey"))
      .select(
        col("s_name").as("company"), col("n_name").as("state"),
        year(col("l_shipdate")).cast("long").as("year"),
        month(col("l_shipdate")).cast("long").as("month"),
        col("p_brand").as("product"), col("p_type").as("sub_product"),
        col("o_orderpriority").as("issue"), col("o_orderstatus").as("sub_issue"),
        when(col("l_returnflag") === "N", 1).otherwise(0).as("timely_response"),
        when(col("l_linestatus") === "F", 1).otherwise(0).as("consumer_disputed"))
  }

  private val cfBaseCteSql: String =
    """cf AS (
      |  SELECT s_name AS company, n_name AS state,
      |         CAST(year(l_shipdate) AS BIGINT) AS year,
      |         CAST(month(l_shipdate) AS BIGINT) AS month,
      |         p_brand AS product, p_type AS sub_product,
      |         o_orderpriority AS issue, o_orderstatus AS sub_issue,
      |         CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS timely_response,
      |         CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END AS consumer_disputed
      |  FROM lineitem
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation   ON c_nationkey = n_nationkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN part     ON l_partkey = p_partkey
      |)""".stripMargin

  /** Q2 (analysis.sql:125-149): per company/state timely ratio and
    * not-disputed ratio, restricted to the Q1c company list via semi-join
    * (on supplier, inside [[cfBase]]). Operators: J5(left_semi) A1 A3 A6 A8 F6 O1. */
  def q2StateRatios(spark: SparkSession, dir: String): DataFrame = {
    cfBase(spark, dir, q1cCompanies(spark, dir))
      .groupBy(col("company"), col("state"))
      .agg(
        count(lit(1)).as("total_cases"),
        (count(when(col("timely_response") === 1, 1)) / count(lit(1)))
          .as("timely_response_ratio"),
        (lit(1) - count(when(col("consumer_disputed") === 1, 1)) / count(lit(1)))
          .as("consumer_disputed_false"))
      .orderBy(col("timely_response_ratio").desc, col("company"), col("state"))
  }

  val q2StateRatiosSql: String =
    s"""WITH $companiesCteSql, $cfBaseCteSql
       |SELECT company, state, count(*) AS total_cases,
       |       count(CASE WHEN timely_response = 1 THEN 1 END) / count(*) AS timely_response_ratio,
       |       1 - count(CASE WHEN consumer_disputed = 1 THEN 1 END) / count(*) AS consumer_disputed_false
       |FROM cf
       |WHERE company IN (SELECT company FROM comp)
       |GROUP BY company, state
       |ORDER BY timely_response_ratio DESC, company, state""".stripMargin

  /** Q3a (analysis.sql:155-173): the temp_cf materialization — 8-column
    * grouped drill-down over the denormalized view, restricted to the Q1c
    * companies. Operators: A4 A6 J5 S5(cached intermediate in q3b). */
  def q3aCfView(spark: SparkSession, dir: String): DataFrame = {
    cfBase(spark, dir, q1cCompanies(spark, dir))
      .groupBy(col("company"), col("state"), col("year"), col("month"),
        col("product"), col("sub_product"), col("issue"), col("sub_issue"))
      .agg(
        count(lit(1)).as("total_cases"),
        sum(col("timely_response")).as("timely_responses"),
        sum(col("consumer_disputed")).as("consumer_disputed"))
  }

  private val tempCfCteSql: String =
    s"""$companiesCteSql, $cfBaseCteSql, temp_cf AS (
       |  SELECT company, state, year, month, product, sub_product, issue, sub_issue,
       |         count(*) AS total_cases,
       |         CAST(sum(timely_response) AS BIGINT) AS timely_responses,
       |         CAST(sum(consumer_disputed) AS BIGINT) AS consumer_disputed
       |  FROM cf
       |  WHERE company IN (SELECT company FROM comp)
       |  GROUP BY company, state, year, month, product, sub_product, issue, sub_issue
       |)""".stripMargin

  val q3aCfViewSql: String =
    s"""WITH $tempCfCteSql
       |SELECT * FROM temp_cf""".stripMargin

  /** Q3b (analysis.sql:178-238): four-CTE chain — top-5 companies by timely
    * ratio (ORDER BY + LIMIT with explicit company tie-break), self-join-back
    * to the cached temp_cf, weakest-product partitioned ROW_NUMBER, tuple-IN
    * semi-join, worst-issues ROW_NUMBER, conjunctive rank+ratio filter.
    * Faithful to the reference's quirk of comparing the *summed*
    * timely_responses to 1 (analysis.sql:182, 201, 213, 228).
    *
    * The reference joins temp_cf back to Top5Information without dedup
    * (analysis.sql:192-196), multiplying every temp_cf row of a
    * (company, state) group by that group's Top5Information row count m.
    * The downstream aggregate is a ratio count(CASE…)/count(*) per
    * (company, state, product); both counts scale by the same per-group m,
    * and IEEE division is correctly rounded, so (a·m)/(b·m) and a/b yield
    * the same double. The join is therefore replaced by a broadcast
    * left-semi against the top-5 list — identical output, and the quadratic
    * row blow-up (the reference's 23 s hot spot at sf0.1) disappears.
    * Semi-joining on company alone is equivalent to semi-joining on the
    * distinct (company, state) pairs of Top5Information: every temp_cf row
    * of a top-5 company has its (company, state) present there by
    * construction. Operators: O3 J6 J7 W2 W3 P7 S5. */
  def q3bWorstIssues(spark: SparkSession, dir: String): DataFrame = {
    val tempCf = q3aCfView(spark, dir).scratchCache() // scanned 3× (analysis.sql:194,216,231)
    val ratio = count(when(col("timely_responses") === 1, 1)) / count(lit(1))
    val top5 = tempCf
      .groupBy(col("company"))
      .agg(ratio.as("timely_response_ratio"))
      .orderBy(col("timely_response_ratio").desc, col("company")) // tie-break (§5)
      .limit(5)
      .select("company")
    val weakest = tempCf
      .join(broadcast(top5), Seq("company"), "left_semi")
      .groupBy(col("company"), col("state"), col("product"))
      .agg(ratio.as("timely_response_ratio"))
      .withColumn("product_rank",
        row_number().over(Window.partitionBy(col("company"), col("state"))
          .orderBy(col("timely_response_ratio").asc, col("product"))).cast("long"))
    val weakestKeys = weakest.filter(col("product_rank") <= 2)
      .select("company", "state", "product")
    tempCf
      .join(broadcast(weakestKeys), Seq("company", "state", "product"), "left_semi")
      .groupBy(col("company"), col("state"), col("product"), col("issue"))
      .agg(ratio.as("timely_response_ratio"))
      .withColumn("issue_rank",
        row_number().over(
          Window.partitionBy(col("company"), col("state"), col("product"))
            .orderBy(col("timely_response_ratio").asc, col("issue"))).cast("long"))
      .filter(col("issue_rank") <= 2 && col("timely_response_ratio") < 1)
      .orderBy("company", "state", "product", "issue")
  }

  /** Q4 (analysis.sql:240 — present in the reference only as a comment,
    * "find the states for which employed population is the lowest, in
    * terms of percentage"): realized over the population_fact analog as
    * the bottom-5 locations by orders-per-price ratio, with explicit
    * tie-breaks. Q5's `select * from population_fact` (analysis.sql:245)
    * is the population_fact entry itself. */
  def q4BottomStates(spark: SparkSession, dir: String): DataFrame = {
    val pf = graft.warehouse.Facts.populationFact(spark, dir)
    pf.groupBy(col("location_id"))
      .agg(sum(col("n_orders")).as("orders"),
        round(sum(col("total_price").cast("decimal(18,2)")), 2)
          .cast("double").as("price"))
      // all-double ratio arithmetic, identical cast chain on both engines
      .withColumn("orders_per_million",
        round(col("orders").cast("double") / (col("price") / 1e6), 6))
      .orderBy(col("orders_per_million").asc, col("location_id"))
      .limit(5)
      .select("location_id", "orders", "price", "orders_per_million")
  }

  val q4BottomStatesSql: String =
    s"""WITH pf AS (${graft.warehouse.Facts.populationFactSql.replace("ORDER BY population_id", "")})
       |SELECT location_id, orders, price,
       |       round(CAST(orders AS DOUBLE) / (price / 1e6), 6) AS orders_per_million
       |FROM (
       |  SELECT location_id, CAST(sum(n_orders) AS BIGINT) AS orders,
       |         CAST(round(sum(CAST(total_price AS DECIMAL(18,2))), 2) AS DOUBLE) AS price
       |  FROM pf GROUP BY location_id
       |)
       |ORDER BY orders_per_million ASC, location_id LIMIT 5""".stripMargin

  val q3bWorstIssuesSql: String =
    s"""WITH $tempCfCteSql, top5 AS (
       |  SELECT company,
       |         count(CASE WHEN timely_responses = 1 THEN 1 END) / count(*) AS timely_response_ratio
       |  FROM temp_cf GROUP BY company
       |  ORDER BY timely_response_ratio DESC, company LIMIT 5
       |), weakest AS (
       |  -- The reference's non-deduped Top5Information join-back
       |  -- (analysis.sql:192-196) multiplies numerator and denominator of the
       |  -- per-(company,state,product) ratio by the same factor; correctly
       |  -- rounded IEEE division makes that a no-op, so a company semi-join
       |  -- is value-identical (see q3bWorstIssues scaladoc).
       |  SELECT cf.company, cf.state, cf.product,
       |         count(CASE WHEN cf.timely_responses = 1 THEN 1 END) / count(*) AS timely_response_ratio,
       |         ROW_NUMBER() OVER (PARTITION BY cf.company, cf.state
       |           ORDER BY count(CASE WHEN cf.timely_responses = 1 THEN 1 END) / count(*) ASC,
       |                    cf.product) AS product_rank
       |  FROM temp_cf cf
       |  WHERE cf.company IN (SELECT company FROM top5)
       |  GROUP BY cf.company, cf.state, cf.product
       |)
       |SELECT company, state, product, issue,
       |       count(CASE WHEN timely_responses = 1 THEN 1 END) / count(*) AS timely_response_ratio,
       |       ROW_NUMBER() OVER (PARTITION BY company, state, product
       |         ORDER BY count(CASE WHEN timely_responses = 1 THEN 1 END) / count(*) ASC,
       |                  issue) AS issue_rank
       |FROM temp_cf
       |WHERE (company, state, product) IN
       |      (SELECT (company, state, product) FROM weakest WHERE product_rank <= 2)
       |GROUP BY company, state, product, issue
       |QUALIFY issue_rank <= 2 AND timely_response_ratio < 1
       |ORDER BY company, state, product, issue""".stripMargin

  /** RFM customer segmentation — recency (days since the customer's last
    * order, measured from the corpus's max order date so the metric is
    * reproducible), frequency (order count), monetary (decimal-exact
    * spend, cast to rounded double only at the output edge per the
    * registry convention) — the classic behavioral profile a warehouse
    * computes before
    * any customer-facing model. One hash aggregate keyed on the customer
    * plus a 1-row broadcast of the corpus max date: counts and decimal
    * sums are mergeable partials, so the profile costs one shuffle of
    * per-customer counter rows at any fact size. */
  def customerRfm(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    val asOf = o.select(max(col("o_orderdate")).as("as_of"))
    o.groupBy(col("o_custkey").as("custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        round(sum(col("price")), 2).cast("double").as("monetary"))
      .crossJoin(broadcast(asOf))
      .select(col("custkey"),
        datediff(col("as_of"), col("last_order")).cast("long").as("recency_days"),
        col("frequency"), col("monetary"))
      .orderBy("custkey")
  }

  val customerRfmSql: String =
    """SELECT o_custkey AS custkey,
      |       CAST(date_diff('day', max(o_orderdate), (SELECT max(o_orderdate) FROM orders)) AS BIGINT)
      |         AS recency_days,
      |       count(*) AS frequency,
      |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS monetary
      |FROM orders GROUP BY o_custkey ORDER BY custkey""".stripMargin

  /** INTERSECT / EXCEPT — the two set operators next to the registry's
    * UNION entries (`location_dim`, `q1c_companies`): retained buyers
    * (ordered in BOTH 1995 and 1996) vs churned buyers (1995 EXCEPT
    * 1996), labeled into one cohort frame — the year-over-year retention
    * cut a warehouse runs directly as set algebra.
    *
    * Engine shape: Catalyst rewrites INTERSECT to a left-semi and EXCEPT
    * to a left-anti hash join under a distinct aggregate — both shuffle
    * only the projected key column with map-side partial distinct, so
    * the exchanged data is bounded by the DISTINCT customer set, not the
    * order count. No broadcast: both sides are fact-derived and scale
    * together. The two branches scan orders twice; at 100 TB the year
    * filters prune partitions first (orders would be date-partitioned,
    * the same layout `partitioned_scan` pins). */
  def setopCohorts(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"))
    def buyers(yy: Int) =
      o.filter(col("y") === yy).select(col("o_custkey").as("custkey"))
    val b95 = buyers(1995)
    val b96 = buyers(1996)
    b95.intersect(b96).withColumn("cohort", lit("both"))
      .unionByName(b95.except(b96).withColumn("cohort", lit("only_1995")))
      .select("cohort", "custkey")
      .orderBy("cohort", "custkey")
  }

  val setopCohortsSql: String =
    """WITH b95 AS (SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1995),
      |     b96 AS (SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996)
      |SELECT 'both' AS cohort, custkey
      |FROM (SELECT custkey FROM b95 INTERSECT SELECT custkey FROM b96)
      |UNION ALL
      |SELECT 'only_1995' AS cohort, custkey
      |FROM (SELECT custkey FROM b95 EXCEPT SELECT custkey FROM b96)
      |ORDER BY cohort, custkey""".stripMargin

  /** Top-k per group — the canonical "top 3 suppliers per nation by
    * revenue" leaderboard, the partitioned-window twin of the registry's
    * global top-k entries (`q3b`'s TakeOrderedAndProject, `q4`'s
    * bottom-N). The window ranks AGGREGATED rows — (nation, supplier)
    * revenue cells, at most supplier-cardinality — never lineitems, so
    * each nation's partition sort is dimension-sized at any fact size.
    *
    * Determinism: rank orders by (revenue DESC, suppkey) — a total
    * order, so revenue ties cannot split differently across engines.
    * Revenue sums as DECIMAL(18,4) (exact, order-independent) and casts
    * to rounded double only at the output edge. */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    // decimal(18,4), not (18,2): price(2dp) × (1−discount)(2dp) is EXACT
    // at 4dp, so the double→decimal cast has no rounding ambiguity —
    // casting straight to cents would round engine-dependently on the
    // half-cent values the product legitimately produces (Facts.scala:42
    // idiom).
    val l = Tables.lineitem(spark, dir).select(col("l_suppkey"),
      (col("l_extendedprice") * (lit(1d) - col("l_discount")))
        .cast("decimal(18,4)").as("rev"))
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    val w = Window.partitionBy(col("nation"))
      .orderBy(col("rev").desc, col("suppkey"))
    l.join(s, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("s_suppkey").as("suppkey"))
      .agg(sum(col("rev")).as("rev"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("nation"), col("suppkey"),
        round(col("rev"), 2).cast("double").as("revenue"), col("rank"))
      .orderBy("nation", "rank")
  }

  val topkPerGroupSql: String =
    """WITH cell AS (
      |  SELECT n_name AS nation, s_suppkey AS suppkey,
      |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY n_name, s_suppkey
      |)
      |SELECT nation, suppkey, CAST(round(rev, 2) AS DOUBLE) AS revenue,
      |       CAST(row_number() OVER (
      |         PARTITION BY nation ORDER BY rev DESC, suppkey) AS BIGINT) AS rank
      |FROM cell
      |QUALIFY rank <= 3
      |ORDER BY nation, rank""".stripMargin

  /** LISTAGG / string_agg — the denormalizing string aggregate every
    * warehouse exposes (reporting views, label columns): per order
    * status, the sorted comma-joined set of distinct priorities present
    * plus the order count. collect_set's hash-set partials merge
    * map-side like any aggregate; the per-group buffer is bounded by the
    * DOMAIN of the aggregated column (5 priorities here — LISTAGG over
    * an unbounded-cardinality column is an anti-pattern at any scale,
    * on any engine). The deterministic part is `array_sort` AFTER the
    * set collapse: collect_set order is partition-dependent, the sorted
    * join is not — the same trick the oracle's ORDER BY inside
    * string_agg encodes. */
  def listaggPriorities(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
          .as("priorities"))
      .orderBy("o_orderstatus")

  val listaggPrioritiesSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |       string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
      |         AS priorities
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** TPC-H Q1, the pricing summary report — the canonical scan-heavy
    * aggregate benchmark anchor (the driver corpus carries the full
    * TPC-H pricing columns, so the classic is runnable verbatim):
    * per (returnflag, linestatus), the quantity/price/discount/tax
    * rollup over everything shipped by the cutoff date.
    *
    * Shape at 100 TB: this is THE map-side-combine showcase — one
    * parquet scan with the shipdate predicate pushed, eight partial
    * aggregates per task into a 4-6 group hash table, one tiny final
    * exchange. Money math is decimal end-to-end (doubles would drift
    * under reassociation at 6B rows); averages divide once at the edge.
    * The cutoff is the standard DATE '1998-12-01' - 90 days. */
  def tpchQ1Pricing(spark: SparkSession, dir: String): DataFrame = {
    val price = col("l_extendedprice").cast("decimal(18,2)")
    val disc = col("l_discount").cast("decimal(18,2)")
    val tax = col("l_tax").cast("decimal(18,2)")
    val qty = col("l_quantity").cast("decimal(18,2)")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("date"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(qty).as("sum_qty"),
        sum(price).as("sum_base_price"),
        sum(price * (lit(1).cast("decimal(18,2)") - disc)).as("sum_disc_price"),
        sum(price * (lit(1).cast("decimal(18,2)") - disc) *
          (lit(1).cast("decimal(18,2)") + tax)).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sum_qty").cast("double").as("sum_qty"),
        col("sum_base_price").cast("double").as("sum_base_price"),
        round(col("sum_disc_price").cast("double"), 2).as("sum_disc_price"),
        round(col("sum_charge").cast("double"), 2).as("sum_charge"),
        round(col("sum_qty").cast("double") / col("count_order"), 6).as("avg_qty"),
        round(col("sum_base_price").cast("double") / col("count_order"), 6)
          .as("avg_price"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val tpchQ1PricingSql: String =
    """WITH l AS (
      |  SELECT l_returnflag, l_linestatus,
      |         CAST(l_quantity AS DECIMAL(18,2)) AS qty,
      |         CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
      |         CAST(l_discount AS DECIMAL(18,2)) AS disc,
      |         CAST(l_tax AS DECIMAL(18,2)) AS tax
      |  FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
      |), a AS (
      |  SELECT l_returnflag, l_linestatus,
      |         sum(qty) AS sum_qty,
      |         sum(price) AS sum_base_price,
      |         sum(price * (CAST(1 AS DECIMAL(18,2)) - disc)) AS sum_disc_price,
      |         sum(price * (CAST(1 AS DECIMAL(18,2)) - disc)
      |             * (CAST(1 AS DECIMAL(18,2)) + tax)) AS sum_charge,
      |         count(*) AS count_order
      |  FROM l GROUP BY 1, 2
      |)
      |SELECT l_returnflag, l_linestatus,
      |       CAST(sum_qty AS DOUBLE) AS sum_qty,
      |       CAST(sum_base_price AS DOUBLE) AS sum_base_price,
      |       round(CAST(sum_disc_price AS DOUBLE), 2) AS sum_disc_price,
      |       round(CAST(sum_charge AS DOUBLE), 2) AS sum_charge,
      |       round(CAST(sum_qty AS DOUBLE) / count_order, 6) AS avg_qty,
      |       round(CAST(sum_base_price AS DOUBLE) / count_order, 6) AS avg_price,
      |       count_order
      |FROM a ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q6, the forecast-revenue-change query — the canonical
    * PREDICATE-PUSHDOWN anchor: three range predicates, no join, no
    * group — revenue = Σ price·discount over a year of shipments in a
    * discount/quantity band. The whole query is one pushed scan and a
    * 1-row decimal reduce; its plan (PushedFilters on all three
    * columns, no Exchange before the final 1-row aggregate) is pinned
    * in PlanSpec. */
  def tpchQ6Revenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1994-01-01").cast("date") &&
        col("l_shipdate") < lit("1995-01-01").cast("date") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
        col("l_discount").cast("decimal(18,2)")).cast("double"), 2)
        .as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val tpchQ6RevenueSql: String =
    """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |                       * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 2)
      |         AS revenue,
      |       count(*) AS n_lines
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) >= DATE '1994-01-01'
      |  AND CAST(l_shipdate AS DATE) < DATE '1995-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  /** TPC-H Q3 (shipping priority), adapted to the corpus's columns
    * (orders has no o_shippriority; the segment/date structure is
    * verbatim): the 10 highest-revenue unshipped BUILDING-segment
    * orders — customer-filtered orders joined to future-shipped lines,
    * revenue-ranked. The canonical join + aggregate + top-k anchor.
    *
    * Shape at 100 TB: the segment filter reduces customer BEFORE the
    * join (Catalyst pushes it; the reduced dim broadcasts under AQE),
    * orders⋈lineitem shuffles on orderkey with both date predicates
    * pushed to their scans, revenue collapses map-side per orderkey,
    * and the top-10 is TakeOrderedAndProject — never a global sort of
    * the aggregate. */
  def tpchQ3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1995-03-15").cast("date")
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)"))).as("rev"))
    ord.join(cust, col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"))
      .agg(sum(col("rev")).as("revenue"))
      .select(col("o_orderkey"),
        round(col("revenue"), 2).cast("double").as("revenue"),
        col("o_orderdate"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  val tpchQ3ShippingSql: String =
    """SELECT o_orderkey,
      |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |                      * (CAST(1 AS DECIMAL(18,2))
      |                         - CAST(l_discount AS DECIMAL(18,2)))), 2)
      |            AS DOUBLE) AS revenue,
      |       CAST(o_orderdate AS DATE) AS o_orderdate
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND CAST(o_orderdate AS DATE) < DATE '1995-03-15'
      |  AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
      |GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin
}
