package graft.warehouse

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class LifecycleSpec extends SparkSpec {

  test("schema evolution: merged read widens gen-1 rows with structural NULLs") {
    Lifecycle.schemaEvolution(spark, sfDir).collect() // builds the two-generation path
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$wh/graft_events_evo")
    // the union of both generations' footers, in one schema
    assert(merged.columns.toSeq == Seq("event_id", "user_id", "value"))
    // every gen-1 row (even event_id) surfaces the missing column as NULL
    assert(merged.filter(col("event_id") % 2 === 0 && col("value").isNotNull).isEmpty)
    // no rows lost across generations
    assert(merged.count() == Tables.events(spark, sfDir).count())
    // gen-2 rows keep their real values (incl. genuine data NULLs):
    // the merged non-null count equals the source's odd-id non-null count
    val sourceOddNonNull = Tables.events(spark, sfDir)
      .filter(col("event_id") % 2 === 1 && col("value").isNotNull).count()
    assert(merged.filter(col("value").isNotNull).count() == sourceOddNonNull)
  }

  test("sql direct query: the shared text equals the DataFrame formulation") {
    val viaSql = Lifecycle.sqlDirectQuery(spark, sfDir)
    val viaDf = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sfDir), col("c_nationkey") === col("n_nationkey"))
      .filter(col("o_orderstatus") === "O")
      .groupBy(col("n_name").as("nation"), col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
          .cast("double").as("revenue"))
      .filter(col("n_orders") > 10)
    assert(viaSql.count() > 0)
    assert(viaSql.except(viaDf).isEmpty && viaDf.except(viaSql).isEmpty)
  }

  test("sql direct query and table lifecycle keep the caller's temp views") {
    import spark.implicits._
    def tempViews = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).sorted.toSeq
    Seq(1L, 2L).toDF("mine").createOrReplaceTempView("orders")
    try {
      val before = tempViews
      assert(before.contains("orders"))
      Lifecycle.sqlDirectQuery(spark, sfDir).collect()
      Lifecycle.tableLifecycle(spark, sfDir).collect()
      assert(tempViews == before)
      val mine = spark.table("orders")
      assert(mine.columns.toSeq == Seq("mine") && mine.count() == 2)
    } finally spark.catalog.dropTempView("orders")
  }
}
