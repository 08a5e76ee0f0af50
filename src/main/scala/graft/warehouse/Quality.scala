package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Post-load data-quality audits — the checks a warehouse runs after each
  * batch lands, complementing [[Lifecycle.fkIntegrity]]'s FK orphan scan
  * (reference creating-tables.sql:143-148 declares constraints; a
  * Spark-side warehouse asserts them constructively after the fact):
  * a per-column table profile and a surrogate-key gap audit.
  */
object Quality {

  /** Columns profiled by [[tableProfile]], in output order. */
  private val ProfileCols = Seq("doc_id", "lang", "n_chars", "source", "text")

  /** Per-column table profile over `documents`: row count, null count,
    * exact distinct count, and min/max rendered as strings — the summary
    * a catalog or data-contract check reads after every load.
    *
    * Scale shape: ONE aggregate pass computes all 21 statistics; the
    * per-column output rows are then expanded from the single result row
    * in-row (`explode` of a literal struct array — no second scan, no
    * join). The multiple exact `count(DISTINCT)` aggregates plan as one
    * Expand (a deliberate 5× row multiplier in the map stage); at true
    * 100 TB scale the drop-in substitution is `approx_count_distinct`,
    * which collapses the Expand into mergeable HLL sketches — kept exact
    * here because the oracle compare needs engine-identical counts (the
    * two engines' HLL implementations differ).
    *
    * Determinism: min/max are computed on the NATIVE type and cast to
    * string afterwards (string-cast-first would compare "10" < "9");
    * both engines render integral types identically, and the remaining
    * profiled columns are strings already. */
  def tableProfile(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val aggs = count(lit(1)).as("n_rows") +: ProfileCols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
      count_distinct(col(c)).as(s"${c}__distinct"),
      min(col(c)).cast("string").as(s"${c}__min"),
      max(col(c)).cast("string").as(s"${c}__max")))
    d.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(ProfileCols.map(c => struct(
        lit(c).as("col_name"), col("n_rows"),
        col(s"${c}__nulls").as("n_null"),
        col(s"${c}__distinct").as("n_distinct"),
        col(s"${c}__min").as("min_value"),
        col(s"${c}__max").as("max_value"))): _*)).as("r"))
      .select("r.*")
      .orderBy("col_name")
  }

  val tableProfileSql: String = {
    val aggSql = ProfileCols.map(c =>
      s"""CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${c}__nulls,
         |         count(DISTINCT $c) AS ${c}__distinct,
         |         CAST(min($c) AS VARCHAR) AS ${c}__min,
         |         CAST(max($c) AS VARCHAR) AS ${c}__max""".stripMargin)
      .mkString(",\n         ")
    val rows = ProfileCols.map(c =>
      s"""SELECT '$c' AS col_name, n_rows, ${c}__nulls AS n_null,
         |       ${c}__distinct AS n_distinct, ${c}__min AS min_value,
         |       ${c}__max AS max_value FROM a""".stripMargin)
      .mkString("\n|UNION ALL\n|").stripMargin
    s"""WITH a AS (
       |  SELECT count(*) AS n_rows,
       |         $aggSql
       |  FROM documents
       |)
       |$rows
       |ORDER BY col_name""".stripMargin
  }

  /** Bucket width for the two-phase gap scan — a power of two so the
    * bucket id is an exact `shiftright`, not a float division. */
  private val GapBucket = 10 // 2^10 = 1024 keys per bucket

  /** Surrogate-key gap audit over the ACTIVE slice of `orders` (status
    * <> 'F', i.e. not yet archived): every maximal run of key values
    * absent from the slice between its min and max key, as (gap_start,
    * gap_end, n_missing) — the sequence-integrity check a warehouse runs
    * after an archival/purge pass to see exactly which surrogate ids
    * left the active set (reference creating-tables.sql's SERIAL keys
    * are dense on insert; only deletes open gaps). The status filter is
    * a pushed parquet predicate, so the audit reads only the slice.
    *
    * Scale shape — the naive formulation is `lag(key) OVER (ORDER BY
    * key)`: a single global sort window that funnels the whole table
    * through one task. This kernel two-phases it: keys are bucketed by
    * `key >> 10` (an exact bit shift — fixed-width shuffle key, 1024
    * keys/bucket), intra-bucket gaps come from a PARTITIONED window
    * (distributed, each partition ≤ 1024 rows), and cross-bucket gaps
    * from a window over the per-bucket (min, max) summary — a frame
    * 1024× smaller than the table, bucket order = key order because the
    * shift is monotone. Empty buckets cost nothing: lag over non-empty
    * bucket summaries spans them. The union is exactly the global-lag
    * answer (every adjacent key pair is adjacent either within one
    * bucket or across two consecutive non-empty ones). */
  def seqGapCheck(spark: SparkSession, dir: String): DataFrame =
    seqGapsFrom(Tables.orders(spark, dir)
      .filter(col("o_orderstatus") =!= "F")
      .select(col("o_orderkey").as("k")))

  /** Core two-phase gap kernel over a (k: long) frame of distinct keys —
    * see [[seqGapCheck]]; property-tested against the global-lag model
    * in QualityProperties. */
  private[warehouse] def seqGapsFrom(ks: DataFrame): DataFrame = {
    val keys = ks.select(col("k"), shiftright(col("k"), GapBucket).as("bucket"))
    val intraW = Window.partitionBy("bucket").orderBy("k")
    val intra = keys.withColumn("pk", lag(col("k"), 1).over(intraW))
    val bounds = keys.groupBy("bucket")
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
    val crossW = Window.orderBy("bucket")
    val cross = bounds
      .withColumn("pk", lag(col("mx"), 1).over(crossW))
      .select(col("mn").as("k"), col("pk"))
    intra.select("k", "pk").union(cross)
      .filter(col("pk").isNotNull && col("k") - col("pk") > 1)
      .select((col("pk") + 1).as("gap_start"), (col("k") - 1).as("gap_end"),
        (col("k") - col("pk") - 1).as("n_missing"))
      .orderBy("gap_start")
  }

  /** Oracle: the naive single-window global lag — correct at any SF,
    * single-partition at scale, which is exactly why the engine path
    * two-phases it (the [[graft.llm.Sampling]] token-budget pattern). */
  val seqGapCheckSql: String =
    """WITH s AS (
      |  SELECT o_orderkey AS k,
      |         lag(o_orderkey) OVER (ORDER BY o_orderkey) AS pk
      |  FROM orders WHERE o_orderstatus <> 'F'
      |)
      |SELECT pk + 1 AS gap_start, k - 1 AS gap_end, k - pk - 1 AS n_missing
      |FROM s WHERE pk IS NOT NULL AND k - pk > 1
      |ORDER BY gap_start""".stripMargin

  /** Heaviest keys reported by [[keySkewReport]]. */
  private val SkewTopK = 10

  /** Join-key skew report over `lineitem.l_suppkey` — the diagnostic
    * that justifies (or vetoes) a salted join: the [[SkewTopK]] heaviest
    * keys with their row share and skew ratio (rows / mean-rows-per-key).
    * A skew ratio near 1 means a plain hash join partitions evenly; a
    * hot head is the exact input [[graft.operators.SkewJoin]] salts for.
    *
    * Shape at 100 TB: the fact stream collapses map-side to one counter
    * per key (supplier-cardinality — the dimension the key references,
    * orders of magnitude below the fact count); the corpus totals are a
    * broadcast 1-row frame, and the top-K rank windows over the
    * dimension-sized counter frame. */
  def keySkewReport(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(count(lit(1)).as("n_rows"))
    val totals = counts.agg(sum(col("n_rows")).as("total"),
      count(lit(1)).as("n_keys"))
    val w = Window.orderBy(col("n_rows").desc, col("suppkey"))
    counts.crossJoin(broadcast(totals))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= SkewTopK)
      .select(col("rank"), col("suppkey"), col("n_rows"), col("n_keys"),
        round(col("n_rows").cast("double") / col("total"), 6).as("share"),
        round(col("n_rows").cast("double") * col("n_keys") / col("total"), 4)
          .as("skew_ratio"))
      .orderBy("rank")
  }

  val keySkewReportSql: String =
    s"""WITH counts AS (
       |  SELECT l_suppkey AS suppkey, count(*) AS n_rows
       |  FROM lineitem GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(n_rows) AS BIGINT) AS total, count(*) AS n_keys
       |  FROM counts
       |), r AS (
       |  SELECT CAST(row_number() OVER (ORDER BY n_rows DESC, suppkey)
       |              AS BIGINT) AS rank,
       |         suppkey, n_rows, n_keys,
       |         round(CAST(n_rows AS DOUBLE) / total, 6) AS share,
       |         round(CAST(n_rows AS DOUBLE) * n_keys / total, 4) AS skew_ratio
       |  FROM counts CROSS JOIN tot
       |)
       |SELECT rank, suppkey, n_rows, n_keys, share, skew_ratio
       |FROM r WHERE rank <= $SkewTopK ORDER BY rank""".stripMargin

  /** Pipeline-attached QA metrics via the Observation API — the
    * Spark-native way to collect row counts, null counts, and bounds
    * DURING a pipeline's real pass instead of paying a second audit
    * scan: `df.observe(...)` rides the job that materializes the frame
    * (here a `noop` sink standing in for the production write) and the
    * driver reads the accumulated metrics after the action. One scan,
    * zero extra shuffles — at 100 TB the difference between "QA is
    * free" and "QA doubles the read". The entry returns the observed
    * metrics as a 1-row frame; the oracle recomputes them as plain
    * aggregates, proving the piggybacked pass sees every row exactly
    * once (an over- or under-counted observation would hash-mismatch). */
  def observedMetrics(spark: SparkSession, dir: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation("etl_qa")
    val ev = Tables.events(spark, dir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null_value"),
        sum(col("value").cast("decimal(18,6)")).as("value_sum"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"))
    ev.write.format("noop").mode("overwrite").save()
    val m = obs.get
    import spark.implicits._
    Seq((m("n_rows").asInstanceOf[Long],
      m("n_null_value").asInstanceOf[Long],
      m("value_sum").asInstanceOf[java.math.BigDecimal].doubleValue(),
      m("min_ts").asInstanceOf[java.sql.Timestamp],
      m("max_ts").asInstanceOf[java.sql.Timestamp]))
      .toDF("n_rows", "n_null_value", "value_sum", "min_ts", "max_ts")
      .select(col("n_rows"), col("n_null_value"),
        round(col("value_sum"), 2).as("value_sum"),
        col("min_ts"), col("max_ts"))
  }

  /** Join-fanout profile — the distribution of lineitems per order: the
    * companion diagnostic to [[keySkewReport]] (that one profiles the
    * DIMENSION key's skew; this profiles the FACT-side fanout a
    * fact⋈fact join or per-order expansion multiplies by). Bounded
    * output: one row per distinct fanout value.
    *
    * Shape at 100 TB: one map-side order collapse, then a counter
    * aggregate over the fanout-bounded frame. */
  def orderFanoutProfile(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey").agg(count(lit(1)).as("fanout"))
    val cells = perOrder.groupBy("fanout").agg(count(lit(1)).as("n_orders"))
    val tot = cells.agg(sum(col("n_orders")).as("total"))
    cells.crossJoin(broadcast(tot))
      .select(col("fanout"), col("n_orders"),
        round(col("n_orders").cast("double") / col("total"), 6).as("share"))
      .orderBy("fanout")
  }

  val orderFanoutProfileSql: String =
    """WITH per_order AS (
      |  SELECT l_orderkey, count(*) AS fanout FROM lineitem GROUP BY 1
      |), cells AS (
      |  SELECT fanout, count(*) AS n_orders FROM per_order GROUP BY 1
      |), t AS (
      |  SELECT CAST(sum(n_orders) AS BIGINT) AS total FROM cells
      |)
      |SELECT fanout, n_orders,
      |       round(CAST(n_orders AS DOUBLE) / total, 6) AS share
      |FROM cells CROSS JOIN t
      |ORDER BY fanout""".stripMargin

  /** Per-user activity histogram on power-of-two buckets — the "how
    * heavy are our heavy users" distribution that sizes per-user state
    * (session stores, rate limits) before deployment.
    * Log2 bucketing keeps the output bounded at any corpus size where
    * a raw per-count histogram would grow with the heaviest user. */
  def userActivityHistogram(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    // exact integer log2 via bit length (string bin, engine-identical) —
    // floor(log2(double)) can land a hair under the true value at exact
    // powers of two and flip the bucket on one engine only
    val bucket = (length(bin(col("n"))) - 1).cast("long")
    val cells = perUser.groupBy(bucket.as("log2_bucket"))
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"))
    val tot = cells.agg(sum(col("n_users")).as("total"))
    cells.crossJoin(broadcast(tot))
      .select(col("log2_bucket"),
        expr("CAST(shiftleft(1L, CAST(log2_bucket AS INT)) AS BIGINT)")
          .as("bucket_min"),
        col("n_users"), col("n_events"),
        round(col("n_users").cast("double") / col("total"), 6).as("user_share"))
      .orderBy("log2_bucket")
  }

  val userActivityHistogramSql: String =
    """WITH per_user AS (
      |  SELECT user_id, count(*) AS n FROM events GROUP BY 1
      |), cells AS (
      |  SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS log2_bucket,
      |         count(*) AS n_users, CAST(sum(n) AS BIGINT) AS n_events
      |  FROM per_user GROUP BY 1
      |), t AS (
      |  SELECT CAST(sum(n_users) AS BIGINT) AS total FROM cells
      |)
      |SELECT log2_bucket,
      |       CAST(1 << CAST(log2_bucket AS INT) AS BIGINT) AS bucket_min,
      |       n_users, n_events,
      |       round(CAST(n_users AS DOUBLE) / total, 6) AS user_share
      |FROM cells CROSS JOIN t
      |ORDER BY log2_bucket""".stripMargin

  val observedMetricsSql: String =
    """SELECT count(*) AS n_rows,
      |       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_null_value,
      |       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 2)
      |         AS value_sum,
      |       min(CAST(ts AS TIMESTAMP)) AS min_ts,
      |       max(CAST(ts AS TIMESTAMP)) AS max_ts
      |FROM events""".stripMargin
}
