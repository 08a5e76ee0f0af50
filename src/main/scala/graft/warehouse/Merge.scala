package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Batch CDC MERGE — the three-clause upsert/delete kernel
  * (`MERGE INTO target USING changes`) that completes the mutation family:
  * `Dims` has keep-one upsert and insert-if-absent, `Scd` has versioned
  * history; this is the in-place merge a change-data-capture feed applies,
  * with WHEN MATCHED UPDATE, WHEN MATCHED DELETE, and WHEN NOT MATCHED
  * INSERT in one pass.
  *
  * Reference anchor: inserting-data.sql:63-80 (upsert-by-dedup M1/M2,
  * SURVEY §2.8) — extended with the delete clause those scripts enforce by
  * trigger instead (M5; here deletion is an explicit CDC op, and
  * immutable-parquet snapshots make the "no silent deletes" invariant
  * free).
  *
  * Scale shape: ONE full-outer shuffle join keyed on the merge key — the
  * same physical shape Delta/Iceberg MERGE plans (join changes to target,
  * rewrite matched files). Both sides hash-partition on the key; the
  * change feed is usually ≪ target, so AQE broadcasts it and the target
  * side never shuffles at all. All clause arbitration is codegen'd CASE
  * logic on the joined row — no per-clause pass, no driver loop. On a real
  * lakehouse the output would be written per-partition copy-on-write;
  * here the new state IS the result set.
  */
object Merge {

  /** Clause kernel over a prepared target and change feed.
    * Contract: `target(c_custkey, c_name, c_acctbal, c_mktsegment)`,
    * `changes(key, op ∈ {'U','D'}, new_bal)`, at most one change per key.
    *   matched + U   → update (acctbal := new_bal)
    *   matched + D   → delete
    *   unmatched + U → insert (derived name, UNKNOWN segment)
    *   unmatched + D → no-op
    * Note the 3VL discipline: target-only rows carry NULL op, so clause
    * predicates test `key IS NULL OR op = 'U'` (never `NOT (op = 'D')`,
    * which is NULL — not true — on target-only rows and would drop them). */
  private[warehouse] def mergeInto(target: DataFrame, changes: DataFrame): DataFrame =
    target.join(changes, target("c_custkey") === changes("key"), "full_outer")
      .filter(col("key").isNull || col("op") === "U")
      .select(
        coalesce(col("c_custkey"), col("key")).as("c_custkey"),
        coalesce(col("c_name"), concat(lit("NEW#"), col("key"))).as("c_name"),
        when(col("op") === "U", col("new_bal")).otherwise(col("c_acctbal")).as("c_acctbal"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("c_mktsegment"))

  /** Registered entry: apply a deterministic CDC feed derived from
    * `orders` to the `customer` dim. The feed is each customer's latest
    * order (max date, orderkey tiebreak — unique, so the feed has exactly
    * one row per key): finalized status ('F') → delete the customer, open
    * status → update their balance to that order's total. Keys ≡ 0 mod 13
    * are shifted by +500000 to model late-arriving customers missing from
    * the dim — they exercise the insert clause (shift chosen far above any
    * test-SF custkey range, so shifted keys never collide with real ones).
    */
  def mergeCdc(spark: SparkSession, dir: String): DataFrame =
    mergeCdcFrame(spark, dir).orderBy("c_custkey")

  /** Unordered merged state, shared by [[mergeCdc]] and [[snapshotDiff]]
    * (the diff consumer feeds a join — no sort under it). */
  private def mergeCdcFrame(spark: SparkSession, dir: String): DataFrame = {
    val target = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val changes = Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(
        when(col("o_custkey") % 13 === 0, col("o_custkey") + 500000)
          .otherwise(col("o_custkey")).as("key"),
        when(col("o_orderstatus") === "F", lit("D")).otherwise(lit("U")).as("op"),
        col("o_totalprice").as("new_bal"))
    mergeInto(target, changes)
  }

  /** Snapshot diff — the reviewable changeset between a table state and
    * its post-merge successor: one row per key that was added, removed,
    * or changed (unchanged keys are omitted — at warehouse scale the
    * changeset is the small output, the snapshots are the big inputs).
    * Audits [[mergeCdc]] by construction: the diff of (customer,
    * merged customer) must be exactly the effect of the CDC feed, which
    * is what the oracle recomputes independently.
    *
    * Scale shape: ONE full-outer shuffle join keyed on the primary key —
    * the same single-pass shape as the merge itself — with the
    * classification as codegen'd CASE logic; nothing is collected and no
    * second pass over either snapshot. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val before = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal").as("old_bal"))
    val after = mergeCdcFrame(spark, dir)
      .select(col("c_custkey"), col("c_acctbal").as("new_bal"))
    before.join(after, Seq("c_custkey"), "full_outer")
      .withColumn("change",
        when(col("old_bal").isNull, "added")
          .when(col("new_bal").isNull, "removed")
          .when(col("old_bal") =!= col("new_bal"), "changed"))
      .filter(col("change").isNotNull)
      .select("c_custkey", "change", "old_bal", "new_bal")
      .orderBy("c_custkey")
  }

  /** Oracle: the merged state as a subquery, diffed the same way.
    * (lazy: `mergeCdcSql` is declared later in this object — an eager
    * val here would interpolate null at initialization.) */
  lazy val snapshotDiffSql: String =
    s"""WITH before_s AS (
       |  SELECT c_custkey, c_acctbal AS old_bal FROM customer
       |), after_s AS (
       |  SELECT c_custkey, c_acctbal AS new_bal FROM ($mergeCdcSql)
       |)
       |SELECT coalesce(b.c_custkey, a.c_custkey) AS c_custkey,
       |       CASE WHEN b.c_custkey IS NULL THEN 'added'
       |            WHEN a.c_custkey IS NULL THEN 'removed'
       |            WHEN b.old_bal <> a.new_bal THEN 'changed' END AS change,
       |       b.old_bal, a.new_bal
       |FROM before_s b FULL OUTER JOIN after_s a ON b.c_custkey = a.c_custkey
       |WHERE (b.c_custkey IS NULL OR a.c_custkey IS NULL OR b.old_bal <> a.new_bal)
       |ORDER BY c_custkey""".stripMargin

  val mergeCdcSql: String =
    """WITH latest AS (
      |  SELECT o_custkey, o_totalprice, o_orderstatus,
      |         row_number() OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders
      |), changes AS (
      |  SELECT CASE WHEN o_custkey % 13 = 0 THEN o_custkey + 500000
      |              ELSE o_custkey END AS key,
      |         CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
      |         o_totalprice AS new_bal
      |  FROM latest WHERE rn = 1
      |)
      |SELECT coalesce(t.c_custkey, c.key) AS c_custkey,
      |       coalesce(t.c_name, 'NEW#' || CAST(c.key AS VARCHAR)) AS c_name,
      |       CASE WHEN c.op = 'U' THEN c.new_bal ELSE t.c_acctbal END AS c_acctbal,
      |       coalesce(t.c_mktsegment, 'UNKNOWN') AS c_mktsegment
      |FROM customer t FULL OUTER JOIN changes c ON t.c_custkey = c.key
      |WHERE c.key IS NULL OR c.op = 'U'
      |ORDER BY c_custkey""".stripMargin

  /** Delta bucket (orderkey mod [[DeltaMod]] == 0 is "late-arriving") —
    * ~10% of orders; shared with the oracle SQL. */
  private val DeltaMod = 10

  /** Incremental aggregate maintenance — the materialized-view refresh
    * every nightly warehouse runs: a base aggregate (daily order count +
    * revenue) already exists, a late-arriving delta batch lands, and the
    * new state is base ⊎ agg(delta) re-aggregated BY KEY — never a full
    * recompute. Here the orders table is split deterministically
    * (orderkey mod 10) into base and delta so the merged result is
    * exactly the full aggregate, which is what the oracle computes
    * directly — the equality IS the correctness proof of the merge.
    *
    * Scale shape: count and a decimal sum are MERGEABLE partials, so the
    * refresh cost is agg(delta) (one shuffle over the delta only) plus a
    * key-wise union-aggregate with the base table — at 100 TB the base
    * aggregate is date-cardinality rows (small) and the 100 TB of
    * historical orders is NEVER rescanned. Averages ride as sum+count
    * pairs; only non-algebraic aggregates (exact distinct, exact median)
    * need the sketch/two-phase paths the registry carries separately. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderdate").as("order_date"),
      col("o_totalprice").cast("decimal(18,2)").as("price"),
      (col("o_orderkey") % DeltaMod === 0).as("is_delta"))
    def agg(df: DataFrame): DataFrame =
      df.groupBy("order_date").agg(
        count(lit(1)).as("n_orders"),
        sum(col("price")).as("revenue"))
    val base = agg(o.filter(!col("is_delta")))
    val delta = agg(o.filter(col("is_delta")))
    base.unionByName(delta)
      .groupBy("order_date")
      .agg(sum(col("n_orders")).as("n_orders"),
        round(sum(col("revenue")), 2).cast("double").as("revenue"))
      .orderBy("order_date")
  }

  /** Oracle: the full recompute the incremental path must equal. */
  val incrementalAggSql: String =
    """SELECT o_orderdate AS order_date, count(*) AS n_orders,
      |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1 ORDER BY order_date""".stripMargin
}
