package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Dimension builders — Spark-native rebuilds of the reference's
  * dimension-load DML (reference: inserting-data.sql:22-118,
  * creating-tables.sql:29-127).
  *
  * Key re-derivations for immutable columnar storage:
  *  - SERIAL surrogate keys → row_number() over a documented natural-key
  *    ordering (M4, deterministic and oracle-testable; SURVEY.md §5).
  *    Dims over a bounded domain (date, year, location) use the plain
  *    `row_number()` window; category and company ids come from
  *    [[Tables.globalRunningSum]] with value 1, which assigns exactly
  *    `row_number()`'s ids under a total order without a single-task
  *    window.
  *  - ON CONFLICT DO UPDATE (key := key, a no-op) → union + dropDuplicates
  *    on the natural key (M1 — exact semantics, set-oriented).
  *  - ON CONFLICT DO NOTHING → left_anti join against existing keys, then
  *    append (M2 — "keep existing" tie-break).
  *
  * Scale notes: the distinct() scans over the fact-sized sources are
  * map-side partial-aggregated by Spark's HashAggregate before the
  * shuffle.
  */
object Dims {

  /** Date dimension via sequence generation (M3 + F1, reference
    * inserting-data.sql:38-44: generate_series 1-day + EXTRACT). */
  def dateDim(spark: SparkSession, dir: String): DataFrame = {
    val days = spark.sql(
      "SELECT explode(sequence(DATE'1995-01-01', DATE'2002-12-31', interval 1 day)) AS d")
    days
      .withColumn("date_id",
        row_number().over(Window.orderBy(col("d"))).cast("long"))
      .select(col("date_id"), col("d"),
        year(col("d")).as("year").cast("long"),
        month(col("d")).as("month").cast("long"),
        dayofmonth(col("d")).as("day").cast("long"))
  }

  val dateDimSql: String =
    """SELECT row_number() OVER (ORDER BY d) AS date_id, d,
      |       CAST(year(d) AS BIGINT) AS year,
      |       CAST(month(d) AS BIGINT) AS month,
      |       CAST(day(d) AS BIGINT) AS day
      |FROM (SELECT CAST(gs AS DATE) AS d
      |      FROM generate_series(DATE '1995-01-01', DATE '2002-12-31', INTERVAL 1 DAY) t(gs))
      |ORDER BY date_id""".stripMargin

  /** Year dimension via 1-year sequence generation (M3, reference
    * inserting-data.sql:53-57: generate_series '1 year' + EXTRACT,
    * ON CONFLICT DO NOTHING ≡ the generated set is already unique). */
  def yearDim(spark: SparkSession, dir: String): DataFrame =
    spark.sql(
      "SELECT explode(sequence(DATE'1992-01-01', DATE'2002-01-01', interval 1 year)) AS d")
      .select(year(col("d")).cast("long").as("year"))
      .withColumn("year_id", row_number().over(Window.orderBy(col("year"))).cast("long"))
      .select("year_id", "year")
      .orderBy("year_id")

  val yearDimSql: String =
    """SELECT row_number() OVER (ORDER BY y) AS year_id, y AS year
      |FROM (SELECT CAST(year(CAST(gs AS DATE)) AS BIGINT) AS y
      |      FROM generate_series(DATE '1992-01-01', DATE '2002-01-01', INTERVAL 1 YEAR) t(gs))
      |ORDER BY year_id""".stripMargin

  /** Location dimension: two-source UNION-distinct + broadcast snowflake
    * join + surrogate keys (U1 + M1 + M4 + J1, reference
    * inserting-data.sql:22-30 — states from demographics UNION complaints). */
  def locationDim(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select(col("c_nationkey").as("nationkey")).distinct()
    val supp = Tables.supplier(spark, dir).select(col("s_nationkey").as("nationkey")).distinct()
    val keys = cust.union(supp).distinct() // SQL UNION dedups; Spark union is UNION ALL
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    keys
      .join(broadcast(nat), keys("nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .select(col("n_name").as("nation"), col("r_name").as("region"))
      .withColumn("location_id",
        row_number().over(Window.orderBy(col("nation"))).cast("long"))
      .select("location_id", "nation", "region")
      .orderBy("location_id")
  }

  val locationDimSql: String =
    """WITH keys AS (
      |  SELECT DISTINCT c_nationkey AS nationkey FROM customer
      |  UNION
      |  SELECT DISTINCT s_nationkey FROM supplier
      |)
      |SELECT row_number() OVER (ORDER BY n_name) AS location_id,
      |       n_name AS nation, r_name AS region
      |FROM keys
      |JOIN nation ON nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |ORDER BY location_id""".stripMargin

  /** Category dimension: multi-column natural key upsert (M1 + F3,
    * reference inserting-data.sql:74-86 — DISTINCT 4-tuple with COALESCE,
    * ON CONFLICT DO UPDATE ≡ union + dropDuplicates on the key). Surrogate
    * keys come from [[Tables.globalRunningSum]] with value 1; the
    * (brand, ptype, psize) ordering is total AFTER dropDuplicates on
    * exactly those columns, which the kernel's id contract requires. */
  def categoryDim(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    val staged = part.select(
      coalesce(col("p_brand"), lit("")).as("brand"),
      coalesce(col("p_type"), lit("")).as("ptype"),
      col("p_size").as("psize"))
    // "existing" load = even part keys; upsert of the full set must dedup
    val existing = part.filter(col("p_partkey") % 2 === 0).select(
      coalesce(col("p_brand"), lit("")).as("brand"),
      coalesce(col("p_type"), lit("")).as("ptype"),
      col("p_size").as("psize"))
    val dedup = existing.union(staged)
      .dropDuplicates("brand", "ptype", "psize")
    Tables.globalRunningSum(dedup,
        Seq(col("brand"), col("ptype"), col("psize")), lit(1L), "category_id")
      .select("category_id", "brand", "ptype", "psize")
      .orderBy("category_id")
  }

  val categoryDimSql: String =
    """WITH unioned AS (
      |  SELECT coalesce(p_brand,'') AS brand, coalesce(p_type,'') AS ptype, p_size AS psize
      |  FROM part WHERE p_partkey % 2 = 0
      |  UNION ALL
      |  SELECT coalesce(p_brand,''), coalesce(p_type,''), p_size FROM part
      |), dedup AS (SELECT DISTINCT brand, ptype, psize FROM unioned)
      |SELECT row_number() OVER (ORDER BY brand, ptype, psize) AS category_id,
      |       brand, ptype, psize
      |FROM dedup ORDER BY category_id""".stripMargin

  /** Company dimension: insert-if-absent (M2 + A7, reference
    * inserting-data.sql:61-65 + 44/57/104 ON CONFLICT DO NOTHING —
    * left_anti join against existing keys, then append). Ids come from
    * [[Tables.globalRunningSum]] with value 1; supplier names are unique
    * and `fresh` excludes the existing ones, so `company` is a total
    * order. */
  def companyDim(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val existing = sup.filter(col("s_suppkey") <= 5).select(col("s_name").as("company"))
    // Distinct the narrow int key BEFORE the name join: the map-side partial
    // aggregate shuffles only distinct suppkeys, not fact-sized rows of names.
    val incoming = li.select(col("l_suppkey")).distinct()
      .join(sup, col("l_suppkey") === sup("s_suppkey"))
      .select(col("s_name").as("company")).distinct()
    val fresh = incoming.join(existing, Seq("company"), "left_anti")
    Tables.globalRunningSum(existing.union(fresh), Seq(col("company")),
        lit(1L), "company_id")
      .select("company_id", "company")
      .orderBy("company_id")
  }

  val companyDimSql: String =
    """WITH existing AS (
      |  SELECT s_name AS company FROM supplier WHERE s_suppkey <= 5
      |), incoming AS (
      |  SELECT DISTINCT s_name AS company
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |), unioned AS (
      |  SELECT company FROM existing
      |  UNION ALL
      |  SELECT company FROM incoming
      |  WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.company = incoming.company)
      |)
      |SELECT row_number() OVER (ORDER BY company) AS company_id, company
      |FROM unioned ORDER BY company_id""".stripMargin

  /** Simulated late-arrival gap for [[inferredDimMembers]]: the dim load
    * "misses" every 97th customer. The testdata's referential integrity
    * is complete (fk_integrity proves it), so the gap is induced
    * deterministically to exercise the kernel; in production the gap is
    * whatever the upstream dim feed hasn't delivered yet. */
  private val InferredGapMod = 97

  /** Late-arriving dimension handling — the "inferred member" pattern
    * (Kimball): facts referencing a dimension key the dim load hasn't
    * delivered yet must not be dropped or stall the load; instead the
    * dim gets a placeholder row per missing key, flagged `is_inferred`,
    * to be enriched when the real member arrives (the update is then
    * just [[graft.warehouse.Merge]]'s upsert). Output is the patched
    * dimension: every loaded member plus one inferred row per
    * fact-referenced missing key.
    *
    * Shape at 100 TB: the fact side collapses to DISTINCT referenced
    * keys first (customer-cardinality, not fact-cardinality — map-side
    * combine does the heavy lift), then one key-partitioned left_anti
    * join against the dim finds the gaps. No broadcast assumption on
    * either side: both frames are dimension-scaled and the join is
    * key-partitioned; the fact scan reads exactly one column. */
  def inferredDimMembers(spark: SparkSession, dir: String): DataFrame = {
    val full = graft.Tables.customer(spark, dir)
    val dim = full.filter(col("c_custkey") % InferredGapMod =!= 0)
      .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
        col("c_nationkey").as("nationkey"))
    val referenced = graft.Tables.orders(spark, dir)
      .select(col("o_custkey").as("custkey")).distinct()
    val inferred = referenced.join(dim, Seq("custkey"), "left_anti")
      .select(col("custkey"), lit("(inferred)").as("name"),
        lit(-1L).as("nationkey"))
    dim.withColumn("is_inferred", lit(false))
      .unionByName(inferred.withColumn("is_inferred", lit(true)))
      .orderBy("custkey")
  }

  val inferredDimMembersSql: String =
    s"""WITH dim AS (
       |  SELECT c_custkey AS custkey, c_name AS name,
       |         c_nationkey AS nationkey
       |  FROM customer WHERE c_custkey % $InferredGapMod <> 0
       |), referenced AS (
       |  SELECT DISTINCT o_custkey AS custkey FROM orders
       |), inferred AS (
       |  SELECT r.custkey, '(inferred)' AS name, CAST(-1 AS BIGINT) AS nationkey
       |  FROM referenced r ANTI JOIN dim d USING (custkey)
       |)
       |SELECT custkey, name, nationkey, false AS is_inferred FROM dim
       |UNION ALL
       |SELECT custkey, name, nationkey, true AS is_inferred FROM inferred
       |ORDER BY custkey""".stripMargin
}
