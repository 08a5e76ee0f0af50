package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SCD2/SCD3 kernel invariants (SURVEY.md §5 property list):
  * single-active per key, close-out monotonicity, SCD3 idempotence,
  * shadow-column semantics. */
class ScdSpec extends SparkSpec {
  import spark.implicits._

  private def existing2 = Seq(
    // key, attr, start, end, active  — key 1 also has a pre-closed version
    (1L, "a", "2019-01-01", "2020-01-01", false),
    (1L, "b", "2020-01-01", "2099-12-31", true),
    (2L, "c", "2020-01-01", "2099-12-31", true),
    (3L, "d", "2020-01-01", "2099-12-31", true)
  ).toDF("k", "v", "start_date", "end_date", "active")
    .withColumn("start_date", col("start_date").cast("date"))
    .withColumn("end_date", col("end_date").cast("date"))

  private def batch2 = Seq((1L, "b2"), (4L, "e")).toDF("k", "v")

  test("scd2: exactly one active row per key after apply") {
    val out = Scd.scd2Apply(existing2, batch2, "k", "2020-06-15").cache()
    val perKey = out.filter(col("active")).groupBy("k").count().collect()
    assert(perKey.forall(_.getLong(1) == 1L), perKey.mkString(","))
    assert(out.filter(col("active")).count() == 4) // keys 1,2,3,4
  }

  test("scd2: incoming keys close out ALL prior versions (reference's unguarded UPDATE)") {
    val out = Scd.scd2Apply(existing2, batch2, "k", "2020-06-15")
    val k1 = out.filter(col("k") === 1L).orderBy("start_date", "v").collect()
    assert(k1.length == 3)
    // pre-closed row's end_date is bumped to asOf too — faithful to
    // creating-tables.sql:225-228 (no active=true predicate)
    assert(k1.forall { r =>
      val active = r.getAs[Boolean]("active")
      val end = r.getAs[java.sql.Date]("end_date").toString
      if (r.getAs[String]("v") == "b2") active && end == "2099-12-31"
      else !active && end == "2020-06-15"
    })
  }

  test("scd2: untouched keys keep their rows verbatim") {
    val out = Scd.scd2Apply(existing2, batch2, "k", "2020-06-15")
    val k2 = out.filter(col("k") === 2L).collect()
    assert(k2.length == 1 && k2.head.getAs[Boolean]("active")
      && k2.head.getAs[java.sql.Date]("end_date").toString == "2099-12-31")
  }

  test("scd2: re-applying the same batch adds one version per key and keeps single-active") {
    val once = Scd.scd2Apply(existing2, batch2, "k", "2020-06-15")
    val twice = Scd.scd2Apply(once, batch2, "k", "2020-09-01").cache()
    assert(twice.count() == once.count() + batch2.count())
    val perKey = twice.filter(col("active")).groupBy("k").count().collect()
    assert(perKey.forall(_.getLong(1) == 1L))
    // the version inserted by apply #1 is now closed at asOf #2
    val mid = twice.filter(col("k") === 1L && col("v") === "b2").head()
    assert(!mid.getAs[Boolean]("active")
      && mid.getAs[java.sql.Date]("end_date").toString == "2020-09-01")
  }

  private def existing3 = Seq(
    (1L, "x", "consented", "", "2020-01-01"),
    (2L, "y", "declined", "", "2020-01-01")
  ).toDF("k", "attr", "consent", "consent_old", "effective_date")
    .withColumn("effective_date", col("effective_date").cast("date"))

  test("scd3: changed value shadows the old one and restamps") {
    val batch = Seq((1L, "x", "withdrawn")).toDF("k", "attr", "consent")
    val out = Scd.scd3Apply(existing3, batch, "k", "consent", "2020-06-15")
    val r1 = out.filter(col("k") === 1L).head()
    assert(r1.getAs[String]("consent") == "withdrawn"
      && r1.getAs[String]("consent_old") == "consented"
      && r1.getAs[java.sql.Date]("effective_date").toString == "2020-06-15")
    val r2 = out.filter(col("k") === 2L).head()
    assert(r2.getAs[String]("consent") == "declined"
      && r2.getAs[java.sql.Date]("effective_date").toString == "2020-01-01")
  }

  test("scd3: equal value is a no-op (IS DISTINCT FROM guard)") {
    val batch = Seq((1L, "x", "consented")).toDF("k", "attr", "consent")
    val out = Scd.scd3Apply(existing3, batch, "k", "consent", "2020-06-15")
    assert(out.orderBy("k").collect().toSeq == existing3.orderBy("k").collect().toSeq)
  }

  test("scd3: new keys insert fresh with empty shadow") {
    val batch = Seq((3L, "z", "consented")).toDF("k", "attr", "consent")
    val out = Scd.scd3Apply(existing3, batch, "k", "consent", "2020-06-15")
    val r3 = out.filter(col("k") === 3L).head()
    assert(r3.getAs[String]("consent_old") == ""
      && r3.getAs[java.sql.Date]("effective_date").toString == "2020-06-15")
    assert(out.count() == 3)
  }

  test("scd3: applying the same batch twice is idempotent") {
    val batch = Seq((1L, "x", "withdrawn"), (3L, "z", "new")).toDF("k", "attr", "consent")
    val once = Scd.scd3Apply(existing3, batch, "k", "consent", "2020-06-15")
    val twice = Scd.scd3Apply(once, batch, "k", "consent", "2020-09-01")
    def norm(df: org.apache.spark.sql.DataFrame): Seq[Row] =
      df.select("k", "attr", "consent", "consent_old", "effective_date").orderBy("k").collect().toSeq
    assert(norm(twice) == norm(once))
  }

  test("scd2/scd3 registered fixtures run and agree on key counts at sf0.001") {
    val scd2 = Scd.scd2Resolution(spark, sfDir).cache()
    assert(scd2.count() > 0)
    val active = scd2.filter(col("active")).groupBy("complain_number").count()
    assert(active.filter(col("count") > 1).isEmpty)
    val scd3 = Scd.scd3Issue(spark, sfDir).cache()
    assert(scd3.groupBy("complain_number").count().filter(col("count") > 1).isEmpty)
  }

  test("scd id-stamps: registered ids equal row_number over the applied frame") {
    // the id stamp is the ordinal kernel; dropping the id gives back the
    // applied frame, and a single-window row_number over the same total
    // order must reproduce every row's id
    def check(stamped: DataFrame, id: String, order: Seq[Column]): Unit = {
      val want = stamped.drop(id)
        .withColumn(id, row_number().over(Window.orderBy(order: _*)).cast("long"))
        .select(stamped.columns.toIndexedSeq.map(col): _*)
      assert(stamped.except(want).isEmpty && want.except(stamped).isEmpty, id)
    }
    check(Scd.scd2Resolution(spark, sfDir).cache(), "resolution_id",
      Seq(col("complain_number"), col("start_date"), col("response_to_consumer")))
    check(Scd.scd3Issue(spark, sfDir).cache(), "issue_id", Seq(col("complain_number")))
  }

  test("scd3_issue builds without a job or RDD scan; scd2_active_view unchanged") {
    val (scd3, jobs) = SparkSpec.jobsDuring(spark)(Scd.scd3Issue(spark, sfDir))
    assert(jobs == 0, s"$jobs jobs started while building scd3_issue")
    val plan = scd3.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), plan)
    // the view reads the applied frame now; its old form filtered the
    // id-stamped scd2_resolution
    val old = Scd.scd2Resolution(spark, sfDir)
      .filter(col("active"))
      .select("complain_number", "public_response", "response_to_consumer", "start_date")
      .orderBy("complain_number")
    val got = Scd.scd2ActiveView(spark, sfDir)
    assert(got.schema == old.schema)
    assert(got.collect().toSeq == old.collect().toSeq)
  }

  test("scd2 point-in-time join resolves exactly one version per fact") {
    import graft.Tables
    val out = Scd.scd2PointInTimeJoin(spark, sfDir).cache()
    // tiling half-open intervals: the join neither drops nor duplicates facts
    val nOrders = Tables.orders(spark, sfDir).count()
    assert(out.agg(sum("n_orders")).first().getLong(0) == nOrders)
    // R2- segments exist (even keys re-version) and only carry orders on or
    // after the 1998-07-01 split; plain segments carry the rest
    val segs = out.select("segment").as[String].collect()
    assert(segs.exists(_.startsWith("R2-")) && segs.exists(!_.startsWith("R2-")))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderdate").cast("date").as("d"))
    val r2Expected = o.filter(col("o_custkey") % 2 === 0 &&
      col("d") >= lit("1998-07-01").cast("date")).count()
    val r2Got = out.filter(col("segment").startsWith("R2-"))
      .agg(sum("n_orders")).first().getLong(0)
    assert(r2Got == r2Expected, s"R2 orders $r2Got != $r2Expected")
  }
}
