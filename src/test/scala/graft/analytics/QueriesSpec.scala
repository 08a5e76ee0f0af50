package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Equivalence proofs-by-execution for the two plan rewrites the analytics
  * layer makes relative to the reference's literal formulation (the
  * scaladoc carries the algebraic argument; these pin it on real data). */
class QueriesSpec extends SparkSpec {

  test("q1c single-scan disjunctive filter == union of the Q1a/Q1b winner lists") {
    val combined = Queries.q1cCompanies(spark, sfDir).select("company")
    val naive = Queries.q1RatioRank(spark, sfDir).select(col("s_name").as("company"))
      .union(Queries.q1bDisputedRank(spark, sfDir).select(col("s_name").as("company")))
      .distinct()
    assert(combined.except(naive).isEmpty && naive.except(combined).isEmpty)
  }

  test("q3b semi-join rewrite == the reference's non-deduped join-back") {
    // the faithful formulation: join temp_cf to Top5Information without
    // dedup (row multiplication), exactly as analysis.sql:192-196
    val tempCf = Queries.q3aCfView(spark, sfDir).cache()
    try {
      val ratio = count(when(col("timely_responses") === 1, 1)) / count(lit(1))
      val top5 = tempCf.groupBy(col("company"))
        .agg(ratio.as("timely_response_ratio"))
        .orderBy(col("timely_response_ratio").desc, col("company"))
        .limit(5).select("company")
      val top5Info = tempCf.join(top5, Seq("company"))
      val naiveWeakest: DataFrame = tempCf
        .join(top5Info.select("company", "state"), Seq("company", "state"))
        .groupBy(col("company"), col("state"), col("product"))
        .agg(ratio.as("timely_response_ratio"))
        .withColumn("product_rank",
          row_number().over(Window.partitionBy(col("company"), col("state"))
            .orderBy(col("timely_response_ratio").asc, col("product"))).cast("long"))
        .filter(col("product_rank") <= 2)
        .select("company", "state", "product", "timely_response_ratio", "product_rank")
      val rewritten = tempCf
        .join(top5, Seq("company"), "left_semi")
        .groupBy(col("company"), col("state"), col("product"))
        .agg(ratio.as("timely_response_ratio"))
        .withColumn("product_rank",
          row_number().over(Window.partitionBy(col("company"), col("state"))
            .orderBy(col("timely_response_ratio").asc, col("product"))).cast("long"))
        .filter(col("product_rank") <= 2)
        .select("company", "state", "product", "timely_response_ratio", "product_rank")
      // (a·m)/(b·m) == a/b under correctly-rounded IEEE division — the
      // ratios, and hence the ranks, must be bit-identical
      assert(naiveWeakest.except(rewritten).isEmpty
        && rewritten.except(naiveWeakest).isEmpty)
    } finally tempCf.unpersist()
  }

  test("q2/q3a company filter on supplier == the post-join left_semi form") {
    for (dir <- Seq(sfDir, SparkSpec.gateDir)) {
      // the view first, then the Q1c semi-join on its company column
      val li = Tables.lineitem(spark, dir)
      val o = Tables.orders(spark, dir)
      val c = Tables.customer(spark, dir)
      val n = Tables.nation(spark, dir)
      val s = Tables.supplier(spark, dir)
      val p = Tables.part(spark, dir)
      val cf = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(s, li("l_suppkey") === s("s_suppkey"))
        .join(p, li("l_partkey") === p("p_partkey"))
        .select(
          col("s_name").as("company"), col("n_name").as("state"),
          year(col("l_shipdate")).cast("long").as("year"),
          month(col("l_shipdate")).cast("long").as("month"),
          col("p_brand").as("product"), col("p_type").as("sub_product"),
          col("o_orderpriority").as("issue"), col("o_orderstatus").as("sub_issue"),
          when(col("l_returnflag") === "N", 1).otherwise(0).as("timely_response"),
          when(col("l_linestatus") === "F", 1).otherwise(0).as("consumer_disputed"))
        .join(broadcast(Queries.q1cCompanies(spark, dir)), Seq("company"), "left_semi")
      val q2 = cf.groupBy(col("company"), col("state"))
        .agg(
          count(lit(1)).as("total_cases"),
          (count(when(col("timely_response") === 1, 1)) / count(lit(1)))
            .as("timely_response_ratio"),
          (lit(1) - count(when(col("consumer_disputed") === 1, 1)) / count(lit(1)))
            .as("consumer_disputed_false"))
        .orderBy(col("timely_response_ratio").desc, col("company"), col("state"))
      val q3a = cf.groupBy(col("company"), col("state"), col("year"), col("month"),
          col("product"), col("sub_product"), col("issue"), col("sub_issue"))
        .agg(
          count(lit(1)).as("total_cases"),
          sum(col("timely_response")).as("timely_responses"),
          sum(col("consumer_disputed")).as("consumer_disputed"))
      assert(Queries.q2StateRatios(spark, dir).collect().toSeq == q2.collect().toSeq, dir)
      val rows = (df: DataFrame) => df.collect().toSeq.sortBy(_.toString)
      val q3aRows = rows(q3a)
      assert(q3aRows.nonEmpty && rows(Queries.q3aCfView(spark, dir)) == q3aRows, dir)
    }
  }

  test("q2/q3a: the companies semi-join sits under the lineitem-orders join") {
    for (q <- Seq(Queries.q2StateRatios _, Queries.q3aCfView _)) {
      // optimized without cache substitution: another test caches q3a
      val plan = spark.sessionState.optimizer.execute(q(spark, sfDir).queryExecution.analyzed)
      def refs(j: Join) = j.condition.toSeq.flatMap(_.references.map(_.name)).toSet
      val liOrders = plan.collect {
        case j: Join if Set("l_orderkey", "o_orderkey").subsetOf(refs(j)) => j
      }
      assert(liOrders.size == 1, plan)
      val semi = (p: LogicalPlan) => p.collect {
        case j: Join if j.joinType == LeftSemi && refs(j).contains("s_name") => j
      }
      assert(semi(plan).size == 1 && semi(liOrders.head).size == 1, plan)
    }
  }

  test("q1b undisputed ranking from counts matches the ratio-complement ordering") {
    val out = Queries.q1bDisputedRank(spark, sfDir).cache()
    try {
      // ordering by undisputed_count/total DESC must order exactly like
      // disputed_count/total ASC on non-null binary flags
      val byComplement = out.orderBy(col("disputed_response_ratio").asc, col("s_name"))
        .select("s_name").collect().map(_.getString(0)).toSeq
      val byDirect = out.orderBy(col("undisputed_response_ratio").desc, col("s_name"))
        .select("s_name").collect().map(_.getString(0)).toSeq
      assert(byComplement == byDirect)
    } finally out.unpersist()
  }

  test("set-op cohorts match a driver-side model and partition the 1995 buyers") {
    val byYear = graft.Tables.orders(spark, sfDir)
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"))
      .filter(col("y").isin(1995, 1996)).collect()
      .groupBy(_.getInt(1)).map { case (y, rs) => y -> rs.map(_.getLong(0)).toSet }
    val (b95, b96) = (byYear(1995), byYear.getOrElse(1996, Set.empty[Long]))
    val got = Queries.setopCohorts(spark, sfDir).collect()
      .groupBy(_.getString(0)).map { case (c, rs) => c -> rs.map(_.getLong(1)).toSet }
    assert(got("both") == (b95 intersect b96))
    assert(got("only_1995") == (b95 diff b96))
    // the two cohorts are disjoint and exactly cover the 1995 buyer set
    assert((got("both") intersect got("only_1995")).isEmpty)
    assert((got("both") union got("only_1995")) == b95)
  }

  test("top-k per group emits dense ranks of non-increasing revenue, k<=3 per nation") {
    val rows = Queries.topkPerGroup(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val byNation = rows.groupBy(_._1)
    byNation.foreach { case (nation, rs) =>
      val sorted = rs.sortBy(_._4)
      assert(sorted.length <= 3, s"$nation cap")
      assert(sorted.map(_._4).toSeq == (1L to sorted.length).toSeq, s"$nation dense ranks")
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(-_).toSeq,
        s"$nation revenue non-increasing")
    }
    // the window ranks aggregated cells: every nation with any lineitem
    // revenue appears (suppliers cover all nations on this corpus)
    val nations = graft.Tables.supplier(spark, sfDir)
      .join(graft.Tables.nation(spark, sfDir),
        col("s_nationkey") === col("n_nationkey"))
      .select("n_name").distinct().collect().map(_.getString(0)).toSet
    assert(byNation.keySet == nations)
  }

  test("listagg: sorted comma-joined distinct priorities, partition-order independent") {
    val rows = Queries.listaggPriorities(spark, sfDir).collect()
    val n = graft.Tables.orders(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == n)
    rows.foreach { r =>
      val parts = r.getAs[String]("priorities").split(",").toSeq
      assert(parts == parts.sorted && parts.distinct == parts,
        s"${r.getAs[String]("o_orderstatus")}: ${parts.mkString("|")}")
    }
    // determinism: a second execution (fresh shuffle, fresh set order)
    // must produce byte-identical strings — array_sort seals the set
    val again = Queries.listaggPriorities(spark, sfDir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }
}
