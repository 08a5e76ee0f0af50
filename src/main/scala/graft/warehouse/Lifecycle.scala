package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Table lifecycle + integrity operators: CTAS, temp views, INSERT…SELECT
  * append, DROP TABLE, deterministic LIMIT/OFFSET previews, and the FK
  * referential-integrity anti-join check (SURVEY.md §2.1 S5/S7/S8, §2.6
  * O2/O3, §2.8 M8; reference inserting-data.sql:7-13, 181,
  * creating-tables.sql:143-148).
  */
object Lifecycle {

  /** S5 + S7 + S8 + O2/O3: drop/recreate a managed table from a
    * deterministic top-1000 preview (the reference's `CREATE TABLE
    * temp_table AS SELECT * FROM complaints LIMIT 1000`, made
    * deterministic with ORDER BY — O3's TakeOrderedAndProject), append the
    * next 1000 rows INSERT…SELECT-style (OFFSET pagination), and read the
    * result back through the catalog. The table is dropped and rebuilt at
    * every invocation, exercising the full create→append→scan→drop cycle.
    * The source view lives in a child session (`newSession`: own temp
    * views, shared catalog), so the caller's views are never touched. */
  def tableLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders_src")
    // S8 drop + object-store-safe cleanup of leftover files from prior JVMs
    graft.sources.Layout.dropManagedTable(s, "graft_preview")
    s.sql(
      """CREATE TABLE graft_preview USING parquet AS
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM graft_orders_src ORDER BY o_orderkey LIMIT 1000""".stripMargin) // S5+O3
    s.sql(
      """INSERT INTO graft_preview
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM graft_orders_src ORDER BY o_orderkey LIMIT 1000 OFFSET 1000""".stripMargin) // S7+O2
    s.table("graft_preview")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2).cast("double").as("total_price"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus")
  }

  val tableLifecycleSql: String =
    """WITH preview AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice
      |  FROM orders ORDER BY o_orderkey LIMIT 2000
      |)
      |SELECT o_orderstatus, count(*) AS n,
      |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price,
      |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM preview GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** M8 FK referential integrity: anti-join orphan probes for each
    * fact→dimension edge (the constructive guarantee the reference's 9 FK
    * constraints declare, creating-tables.sql:143-148, 171-177). A healthy
    * star build returns all-zero orphan counts; the query is the check a
    * production pipeline runs after each load. */
  def fkIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    def orphans(name: String, probe: DataFrame): DataFrame =
      probe.agg(count(lit(1)).as("orphans")).select(lit(name).as("fk"), col("orphans"))
    orphans("lineitem->orders",
        li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti"))
      .unionByName(orphans("lineitem->supplier",
        li.join(Tables.supplier(spark, dir),
          li("l_suppkey") === col("s_suppkey"), "left_anti")))
      .unionByName(orphans("lineitem->part",
        li.join(Tables.part(spark, dir),
          li("l_partkey") === col("p_partkey"), "left_anti")))
      .unionByName(orphans("orders->customer",
        o.join(Tables.customer(spark, dir),
          o("o_custkey") === col("c_custkey"), "left_anti")))
      .orderBy("fk")
  }

  val fkIntegritySql: String =
    """SELECT 'lineitem->orders' AS fk,
      |       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |         (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS orphans
      |UNION ALL
      |SELECT 'lineitem->supplier',
      |       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |         (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
      |UNION ALL
      |SELECT 'lineitem->part',
      |       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |         (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
      |UNION ALL
      |SELECT 'orders->customer',
      |       (SELECT count(*) FROM orders o WHERE NOT EXISTS
      |         (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |ORDER BY fk""".stripMargin

  /** S2 nested-source scan with projection (the Mongo dotted-path read,
    * python.py:27-55): build the nested document shape the reference's
    * source exposes (order → {customer:{nation}, lines:[…]} via
    * named_struct), then read it back through dotted-path projection —
    * the select("a.b.c") flattening S3 pairs with json_normalize. */
  def nestedProjection(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val docs = o
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(struct(
        col("o_orderkey").as("order_id"),
        struct(
          col("c_name").as("name"),
          struct(col("n_name").as("name")).as("nation")).as("customer"),
        struct(col("o_orderstatus").as("status"),
          col("o_totalprice").as("total")).as("meta")).as("doc"))
    docs
      .select( // dotted-path projection into the nested doc
        col("doc.order_id").as("order_id"),
        col("doc.customer.nation.name").as("nation"),
        col("doc.meta.status").as("status"))
      .groupBy("nation", "status")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("nation", "status")
  }

  val nestedProjectionSql: String =
    """SELECT n_name AS nation, o_orderstatus AS status, count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1, 2 ORDER BY nation, status""".stripMargin

  /** SCHEMA EVOLUTION — the append-only-warehouse reality that columns
    * arrive over time: generation-1 files carry (event_id, user_id),
    * generation-2 files add `value`. `mergeSchema` unions the file
    * footers at read time; gen-1 rows surface the missing column as
    * NULL, no rewrite of old files (at 100 TB rewriting history for a
    * new column is not an option — this is the zero-cost path). The
    * write goes to a raw path, not a managed table (a declared catalog
    * schema would reject the wider generation; path + footer-merge is
    * exactly the contract). The aggregate separates gen-1's structural
    * NULLs from gen-2's data NULLs via the generation parity, so the
    * oracle pins both. Footer merging costs a file-listing pass per
    * read — production caches the merged schema in a catalog after
    * evolution settles. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val loc = new org.apache.hadoop.fs.Path(wh, "graft_events_evo")
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(loc, true)
    val ev = Tables.events(spark, dir)
    ev.filter(col("event_id") % 2 === 0)
      .select("event_id", "user_id")
      .write.mode("append").parquet(loc.toString)
    ev.filter(col("event_id") % 2 === 1)
      .select("event_id", "user_id", "value")
      .write.mode("append").parquet(loc.toString)
    spark.read.option("mergeSchema", "true").parquet(loc.toString)
      .groupBy((col("user_id") % 10).as("user_mod"))
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("value").isNull, 1)).as("n_missing"),
        round(sum(col("value").cast("decimal(18,6)")), 6)
          .cast("double").as("value_sum"))
      .orderBy("user_mod")
  }

  val schemaEvolutionSql: String =
    """WITH evolved AS (
      |  SELECT event_id, user_id, NULL::DOUBLE AS value
      |  FROM events WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT event_id, user_id, value FROM events WHERE event_id % 2 = 1
      |)
      |SELECT user_id % 10 AS user_mod, count(*) AS n_rows,
      |       count(CASE WHEN value IS NULL THEN 1 END) AS n_missing,
      |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS value_sum
      |FROM evolved GROUP BY 1 ORDER BY user_mod""".stripMargin

  /** The ONE SQL text both engines run verbatim for [[sqlDirectQuery]] —
    * written in the ANSI intersection of Spark SQL and DuckDB (no
    * dialect casts, no engine-specific functions), which is exactly the
    * migration surface a reference user cares about: their SQL runs
    * unchanged. */
  val SharedSql: String =
    """SELECT n_name AS nation, o_orderpriority AS priority,
      |       count(*) AS n_orders,
      |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
      |         AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderstatus = 'O'
      |GROUP BY n_name, o_orderpriority
      |HAVING count(*) > 10
      |ORDER BY nation, priority""".stripMargin

  /** SQL entry point — the reference is driven by SQL scripts, so the
    * switch-over story needs the TEXT interface, not just the DataFrame
    * one: register the corpus as temp views and execute [[SharedSql]]
    * with `spark.sql`. The oracle is the IDENTICAL string (the registry's
    * only entry where both engines parse the same characters), so any
    * dialect divergence in parsing, name resolution, decimal division or
    * HAVING semantics fails the hash compare. Plan-wise this is the same
    * Catalyst pipeline as the DataFrame API — views are lazy scans,
    * pushdown and broadcast decisions unchanged. The views live in a
    * child session (`newSession`), so a caller's own `orders`,
    * `customer` or `nation` view is never replaced. */
  def sqlDirectQuery(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    s.sql(SharedSql)
  }
}
