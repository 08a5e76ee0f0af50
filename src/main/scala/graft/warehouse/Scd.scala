package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Batch SCD Type 2 / Type 3 kernels — set-oriented rebuilds of the
  * reference's per-row PL/pgSQL triggers (M6/M7, the only nontrivial
  * bespoke logic in the reference; SURVEY.md §2.8).
  *
  * Reference semantics being reproduced:
  *  - SCD2 (creating-tables.sql:221-239, fired by inserting-data.sql:111-118):
  *    BEFORE INSERT on resolution_dimension, close out every existing row of
  *    the incoming key — `set end_date = current_date, active = false where
  *    complain_number = new.complain_number` (note: the reference has NO
  *    `active = true` guard, so even already-closed versions get their
  *    end_date bumped — reproduced faithfully) — then the new row lands with
  *    (start_date = current_date, end_date = '2099-12-31', active = true).
  *  - SCD3 (creating-tables.sql:244-270): BEFORE INSERT on issue_dimension,
  *    when the stored consumer_consent IS DISTINCT FROM the incoming one,
  *    copy it to consumer_consent_old, overwrite with the new value, and
  *    stamp effective_date; unmatched keys insert fresh (shadow column '',
  *    per the initial load inserting-data.sql:94-104). The reference's
  *    trigger references OLD inside a BEFORE INSERT trigger (undefined in
  *    PostgreSQL) — the stored row's value is the only sensible reading.
  *
  * `current_date` is replaced by an explicit as-of parameter (F5) so runs
  * are deterministic and oracle-testable (SURVEY.md §5).
  *
  * Scale notes: both kernels are two joins on the dimension key — the
  * close-out/update marker join and the insert-if-absent anti-join. No
  * broadcast hints: the incoming batch is usually far smaller than the
  * dimension, and AQE picks broadcast when it is; both sides scale, so a
  * static hint would OOM at large SF. No windows, no collects — the whole
  * kernel is shuffle-partitioned on the key.
  */
object Scd {

  /** SCD2 batch apply. `existing` carries the full dimension schema
    * including start_date/end_date/active; `incoming` carries the key +
    * attribute columns only (one row per key). All existing versions of an
    * incoming key are closed out (end_date = asOf, active = false — the
    * reference's unguarded UPDATE), then incoming rows are appended as the
    * new active versions. */
  def scd2Apply(existing: DataFrame, incoming: DataFrame, key: String,
                asOf: String): DataFrame = {
    val hitKeys = incoming.select(col(key)).distinct().withColumn("__hit", lit(true))
    val closed = existing
      .join(hitKeys, Seq(key), "left")
      .withColumn("end_date",
        when(col("__hit"), lit(asOf).cast("date")).otherwise(col("end_date")))
      .withColumn("active",
        when(col("__hit"), lit(false)).otherwise(col("active")))
      .drop("__hit")
    val fresh = incoming
      .withColumn("start_date", lit(asOf).cast("date"))
      .withColumn("end_date", lit("2099-12-31").cast("date"))
      .withColumn("active", lit(true))
    closed.unionByName(fresh)
  }

  /** SCD2 batch apply for batches that may carry SEVERAL versions of one
    * key — the per-row-trigger case the one-row-per-key [[scd2Apply]]
    * cannot express. The reference trigger fires once per inserted row
    * (creating-tables.sql:223-239), so a bulk insert with a duplicated
    * complain_number leaves EVERY inserted version in the dimension:
    * each non-final version is immediately closed by the next insert's
    * close-out (start_date = end_date = asOf, active = false) and only
    * the batch's last row per key stays active. A set-oriented batch has
    * no row order, so the caller supplies `seq` — an explicit intra-batch
    * ordering column (batch line number, CDC offset) — and this kernel
    * reproduces the trigger's final state in one pass: a per-key
    * `row_number` over `seq` DESC marks the last writer (SURVEY §7.3's
    * last-writer-wins), everything else lands pre-closed. One extra
    * key-partitioned window over the (small) incoming batch; the
    * dimension side is untouched relative to [[scd2Apply]]. */
  def scd2ApplySeq(existing: DataFrame, incoming: DataFrame, key: String,
                   seq: String, asOf: String): DataFrame = {
    val hitKeys = incoming.select(col(key)).distinct().withColumn("__hit", lit(true))
    val closed = existing
      .join(hitKeys, Seq(key), "left")
      .withColumn("end_date",
        when(col("__hit"), lit(asOf).cast("date")).otherwise(col("end_date")))
      .withColumn("active",
        when(col("__hit"), lit(false)).otherwise(col("active")))
      .drop("__hit")
    val isLast = row_number().over(
      Window.partitionBy(col(key)).orderBy(col(seq).desc)) === 1
    val fresh = incoming
      .withColumn("__last", isLast)
      .withColumn("start_date", lit(asOf).cast("date"))
      .withColumn("end_date",
        when(col("__last"), lit("2099-12-31").cast("date"))
          .otherwise(lit(asOf).cast("date")))
      .withColumn("active", col("__last"))
      .drop(seq, "__last")
    closed.unionByName(fresh)
  }

  /** SCD3 batch apply. `existing` carries key + attributes + the tracked
    * column, its `<tracked>_old` shadow, and effective_date; `incoming`
    * carries key + the same attribute/tracked columns (one row per key,
    * tracked value non-null — the reference COALESCEs to '',
    * inserting-data.sql:99). Matched keys with a distinct tracked value get
    * shadow-copied + restamped; matched keys with an equal value are
    * untouched (the reference's ON CONFLICT DO NOTHING suppresses the
    * insert); unmatched keys insert fresh with an empty shadow. */
  def scd3Apply(existing: DataFrame, incoming: DataFrame, key: String,
                tracked: String, asOf: String): DataFrame = {
    val old = s"${tracked}_old"
    val inNew = incoming.select(col(key), col(tracked).as("__new"))
    val changed = col("__new").isNotNull && !(col("__new") <=> col(tracked))
    val updated = existing
      .join(inNew, Seq(key), "left")
      .withColumn(old, when(changed, col(tracked)).otherwise(col(old)))
      .withColumn("effective_date",
        when(changed, lit(asOf).cast("date")).otherwise(col("effective_date")))
      .withColumn(tracked, when(changed, col("__new")).otherwise(col(tracked)))
      .drop("__new")
    val fresh = incoming
      .join(existing.select(col(key)), Seq(key), "left_anti")
      .withColumn(old, lit(""))
      .withColumn("effective_date", lit(asOf).cast("date"))
    updated.unionByName(fresh)
  }

  // ---------------------------------------------------------------- fixtures

  /** Deterministic as-of date standing in for the reference's current_date
    * (F5; inserting-data.sql:102, 117). */
  val AsOf = "2020-06-15"

  /** Synthetic resolution_dimension state derived from orders
    * (FIXTURES.md role mapping: SCD2 resolution_dimension ← orders keyed by
    * o_orderkey): odd keys form the current load, and keys ≡1 (mod 10) also
    * carry an older closed-out version, so the kernel's unguarded close-out
    * path over pre-closed rows is exercised. */
  private def resolutionExisting(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val current = o.filter(col("o_orderkey") % 2 === 1).select(
      col("o_orderkey").as("complain_number"),
      col("o_orderstatus").as("public_response"),
      col("o_orderpriority").as("response_to_consumer"),
      lit("2020-01-01").cast("date").as("start_date"),
      lit("2099-12-31").cast("date").as("end_date"),
      lit(true).as("active"))
    val preClosed = o.filter(col("o_orderkey") % 10 === 1).select(
      col("o_orderkey").as("complain_number"),
      col("o_orderstatus").as("public_response"),
      lit("OLD").as("response_to_consumer"),
      lit("2019-01-01").cast("date").as("start_date"),
      lit("2020-01-01").cast("date").as("end_date"),
      lit(false).as("active"))
    current.unionByName(preClosed)
  }

  /** Incoming SCD2 change batch: keys ≡0 (mod 3) — overlapping the odd
    * existing keys on half the batch, net-new on the other half. */
  private def resolutionIncoming(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).filter(col("o_orderkey") % 3 === 0).select(
      col("o_orderkey").as("complain_number"),
      col("o_orderstatus").as("public_response"),
      concat(lit("R2-"), col("o_orderpriority")).as("response_to_consumer"))

  /** Registered SCD2 query (M6 + F5 + M4): one batch applied over the
    * synthetic dimension state, surrogate keys assigned deterministically
    * post-apply. Unlike the true dimensions, this table is keyed on
    * complain_number — in the reference it grows with complaints
    * (creating-tables.sql:98-124), i.e. fact-sized at scale — so the id
    * stamp is [[Tables.globalRunningSum]] with value 1: `row_number()`'s
    * ids with no single-task window. The (complain_number, start_date,
    * response_to_consumer) ordering is total here — each key's versions
    * carry distinct start_dates by construction (pinned in ScdSpec). */
  def scd2Resolution(spark: SparkSession, dir: String): DataFrame =
    Tables.globalRunningSum(resolutionApplied(spark, dir),
        Seq(col("complain_number"), col("start_date"), col("response_to_consumer")),
        lit(1L), "resolution_id")
      .select("resolution_id", "complain_number", "public_response",
        "response_to_consumer", "start_date", "end_date", "active")
      .orderBy("resolution_id")

  /** The SCD2 batch applied over the synthetic state, before id stamping:
    * shared by [[scd2Resolution]] and [[scd2ActiveView]]. */
  private def resolutionApplied(spark: SparkSession, dir: String): DataFrame =
    scd2Apply(resolutionExisting(spark, dir), resolutionIncoming(spark, dir),
      "complain_number", AsOf)

  /** Shared CTE chain for the scd2 oracle SQLs. */
  private val scd2CtesSql: String =
    """existing AS (
      |  SELECT o_orderkey AS complain_number, o_orderstatus AS public_response,
      |         o_orderpriority AS response_to_consumer,
      |         DATE '2020-01-01' AS start_date, DATE '2099-12-31' AS end_date,
      |         true AS active
      |  FROM orders WHERE o_orderkey % 2 = 1
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus, 'OLD',
      |         DATE '2019-01-01', DATE '2020-01-01', false
      |  FROM orders WHERE o_orderkey % 10 = 1
      |), incoming AS (
      |  SELECT o_orderkey AS complain_number, o_orderstatus AS public_response,
      |         'R2-' || o_orderpriority AS response_to_consumer
      |  FROM orders WHERE o_orderkey % 3 = 0
      |), applied AS (
      |  SELECT complain_number, public_response, response_to_consumer, start_date,
      |         CASE WHEN complain_number IN (SELECT complain_number FROM incoming)
      |              THEN DATE '2020-06-15' ELSE end_date END AS end_date,
      |         CASE WHEN complain_number IN (SELECT complain_number FROM incoming)
      |              THEN false ELSE active END AS active
      |  FROM existing
      |  UNION ALL
      |  SELECT complain_number, public_response, response_to_consumer,
      |         DATE '2020-06-15', DATE '2099-12-31', true
      |  FROM incoming
      |)""".stripMargin

  val scd2ResolutionSql: String =
    s"""WITH $scd2CtesSql
       |SELECT row_number() OVER (ORDER BY complain_number, start_date, response_to_consumer) AS resolution_id,
       |       complain_number, public_response, response_to_consumer,
       |       start_date, end_date, active
       |FROM applied ORDER BY resolution_id""".stripMargin

  /** Synthetic issue_dimension state (SCD3 role: orders keyed by o_orderkey,
    * tracked column consumer_consent ← o_orderpriority). */
  private def issueExisting(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).filter(col("o_orderkey") % 2 === 1).select(
      col("o_orderkey").as("complain_number"),
      col("o_orderstatus").as("submitted_via"),
      col("o_orderpriority").as("consumer_consent"),
      lit("").as("consumer_consent_old"),
      lit("2020-01-01").cast("date").as("effective_date"))

  /** Incoming SCD3 batch: keys ≡0 (mod 3); keys ≡3 (mod 15) (odd, so
    * matched) resubmit an UNCHANGED value — exercising the IS DISTINCT FROM
    * guard — while the rest change. */
  private def issueIncoming(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).filter(col("o_orderkey") % 3 === 0).select(
      col("o_orderkey").as("complain_number"),
      col("o_orderstatus").as("submitted_via"),
      when(col("o_orderkey") % 15 === 3, col("o_orderpriority"))
        .otherwise(concat(lit("NEW-"), col("o_orderpriority")))
        .as("consumer_consent"))

  /** Registered SCD3 query (M7 + F5 + M4). Complaint-keyed like the SCD2
    * table above, so the id stamp is [[Tables.globalRunningSum]] with
    * value 1 rather than a bare global window; SCD3 keeps exactly one row
    * per complain_number, so the single-column ordering is total. */
  def scd3Issue(spark: SparkSession, dir: String): DataFrame = {
    val applied = scd3Apply(
      issueExisting(spark, dir), issueIncoming(spark, dir),
      "complain_number", "consumer_consent", AsOf)
    Tables.globalRunningSum(applied, Seq(col("complain_number")), lit(1L), "issue_id")
      .select("issue_id", "complain_number", "submitted_via",
        "consumer_consent", "consumer_consent_old", "effective_date")
      .orderBy("issue_id")
  }

  /** P5 equality filter: the current-rows view of the SCD2 dimension —
    * the reference's `where r.active = true` (inserting-data.sql:178) as
    * its own registered surface. Read from the applied frame: the view
    * drops the surrogate id, so it skips the id stamp. */
  def scd2ActiveView(spark: SparkSession, dir: String): DataFrame =
    resolutionApplied(spark, dir)
      .filter(col("active"))
      .select("complain_number", "public_response", "response_to_consumer", "start_date")
      .orderBy("complain_number")

  val scd2ActiveViewSql: String =
    s"""WITH $scd2CtesSql
       |SELECT complain_number, public_response, response_to_consumer, start_date
       |FROM applied WHERE active ORDER BY complain_number""".stripMargin

  val scd3IssueSql: String =
    """WITH existing AS (
      |  SELECT o_orderkey AS complain_number, o_orderstatus AS submitted_via,
      |         o_orderpriority AS consumer_consent,
      |         '' AS consumer_consent_old,
      |         DATE '2020-01-01' AS effective_date
      |  FROM orders WHERE o_orderkey % 2 = 1
      |), incoming AS (
      |  SELECT o_orderkey AS complain_number, o_orderstatus AS submitted_via,
      |         CASE WHEN o_orderkey % 15 = 3 THEN o_orderpriority
      |              ELSE 'NEW-' || o_orderpriority END AS consumer_consent
      |  FROM orders WHERE o_orderkey % 3 = 0
      |), applied AS (
      |  SELECT e.complain_number, e.submitted_via,
      |         CASE WHEN i.consumer_consent IS NOT NULL
      |                   AND i.consumer_consent IS DISTINCT FROM e.consumer_consent
      |              THEN i.consumer_consent ELSE e.consumer_consent END AS consumer_consent,
      |         CASE WHEN i.consumer_consent IS NOT NULL
      |                   AND i.consumer_consent IS DISTINCT FROM e.consumer_consent
      |              THEN e.consumer_consent ELSE e.consumer_consent_old END AS consumer_consent_old,
      |         CASE WHEN i.consumer_consent IS NOT NULL
      |                   AND i.consumer_consent IS DISTINCT FROM e.consumer_consent
      |              THEN DATE '2020-06-15' ELSE e.effective_date END AS effective_date
      |  FROM existing e LEFT JOIN incoming i USING (complain_number)
      |  UNION ALL
      |  SELECT i.complain_number, i.submitted_via, i.consumer_consent,
      |         '' AS consumer_consent_old, DATE '2020-06-15' AS effective_date
      |  FROM incoming i
      |  WHERE i.complain_number NOT IN (SELECT complain_number FROM existing)
      |)
      |SELECT row_number() OVER (ORDER BY complain_number) AS issue_id,
      |       complain_number, submitted_via, consumer_consent,
      |       consumer_consent_old, effective_date
      |FROM applied ORDER BY issue_id""".stripMargin

  /** Versioned customer dimension for the point-in-time lookup: every
    * customer holds a version from 1995-01-01; even keys re-version at
    * 1998-07-01 (attribute prefixed `R2-`), odd keys keep one open-ended
    * version. Intervals are half-open `[valid_from, valid_to)` and tile —
    * every fact date resolves to exactly one version. */
  private def customerVersions(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    val split = lit("1998-07-01").cast("date")
    val open = lit("2099-12-31").cast("date")
    val v1 = c.select(col("c_custkey"), col("c_mktsegment").as("segment"),
      lit("1995-01-01").cast("date").as("valid_from"),
      when(col("c_custkey") % 2 === 0, split).otherwise(open).as("valid_to"))
    val v2 = c.filter(col("c_custkey") % 2 === 0).select(col("c_custkey"),
      concat(lit("R2-"), col("c_mktsegment")).as("segment"),
      split.as("valid_from"), open.as("valid_to"))
    v1.unionByName(v2)
  }

  /** Point-in-time fact lookup against an SCD2 dimension — the read side
    * of the SCD2 kernels above: each order resolves the customer version
    * that was valid ON ITS ORDER DATE (`valid_from <= o_orderdate <
    * valid_to`), not the currently-active one, so late-arriving facts and
    * historical rebuilds attribute to the attributes of their own time.
    * Revenue then rolls up by the resolved (possibly re-versioned)
    * segment.
    *
    * Engine shape: this is an EQUI-join on the dimension key with the
    * interval predicate as a residual join filter — Catalyst keys the
    * hash/sort-merge join on `custkey` and evaluates the date bounds on
    * each key's version list (a handful of rows), so there is no
    * range-join pair explosion and no second shuffle. The dimension
    * broadcasts when it fits; otherwise both sides hash-partition on the
    * key — either way a fact row is touched once, map-side, and the
    * final aggregate is segment-keyed (bounded). Tiling half-open
    * intervals make the match exactly-one by construction (pinned in
    * ScdSpec). */
  def scd2PointInTimeJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"),
      col("o_orderdate").cast("date").as("o_date"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    o.join(customerVersions(spark, dir),
        col("o_custkey") === col("c_custkey") &&
          col("o_date") >= col("valid_from") && col("o_date") < col("valid_to"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("price")), 2).cast("double").as("revenue"))
      .orderBy("segment")
  }

  val scd2PointInTimeJoinSql: String =
    """WITH dim AS (
      |  SELECT c_custkey, c_mktsegment AS segment,
      |         DATE '1995-01-01' AS valid_from,
      |         CASE WHEN c_custkey % 2 = 0 THEN DATE '1998-07-01'
      |              ELSE DATE '2099-12-31' END AS valid_to
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 'R2-' || c_mktsegment, DATE '1998-07-01', DATE '2099-12-31'
      |  FROM customer WHERE c_custkey % 2 = 0
      |)
      |SELECT segment, count(*) AS n_orders,
      |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
      |FROM orders JOIN dim ON o_custkey = c_custkey
      |  AND CAST(o_orderdate AS DATE) >= valid_from
      |  AND CAST(o_orderdate AS DATE) < valid_to
      |GROUP BY segment ORDER BY segment""".stripMargin
}
