package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pin the physical properties the layout operators exist for. */
class LayoutSpec extends SparkSpec {

  test("bucketed join runs without an exchange (co-located buckets)") {
    val df = Layout.bucketedJoin(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the join itself must read both bucketed tables without shuffling;
    // the only exchange allowed is the one feeding the final aggregation
    val joinSection = plan.split("SortMergeJoin|ShuffledHashJoin").drop(1).mkString
    assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey")
      && !joinSection.contains("Exchange hashpartitioning(o_orderkey"), plan.take(3000))
  }

  test("partitioned scan prunes to the filtered partition") {
    val df = Layout.partitionedScan(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_type") , plan.take(3000))
  }

  test("compaction collapses the splinter files and changes no content") {
    import org.apache.spark.sql.functions._
    val agg = Layout.compactTable(spark, sfDir)
    val nFrag = Layout.dataFileCount(spark, "graft_events_frag")
    val nCompact = Layout.dataFileCount(spark, "graft_events_compact")
    // the simulated pathology really fragments, and compaction collapses
    // it to the size-derived count (tiny table at test SF → 1 file)
    assert(nFrag == 64, s"expected 64 splinter files, got $nFrag")
    assert(nCompact < nFrag && nCompact >= 1, s"compacted to $nCompact")
    // rewrite is content-preserving: row set identical, not just counts
    val frag = spark.table("graft_events_frag")
    val compact = spark.table("graft_events_compact")
    assert(frag.exceptAll(compact).isEmpty && compact.exceptAll(frag).isEmpty)
    // and the registered aggregate sees every original row
    assert(agg.agg(sum("n")).head.getLong(0) ==
      graft.Tables.events(spark, sfDir).count())
  }

  test("dynamic partition overwrite rewrites one partition and leaves siblings intact") {
    Layout.partitionOverwrite(spark, sfDir) // runs load + repair write
    val ev = graft.Tables.events(spark, sfDir)
      .select("event_id", "user_id", "value", "event_type")
    val table = spark.table("graft_events_po")
      .select("event_id", "user_id", "value", "event_type")
    // sibling partitions: byte-identical row sets to the original load
    val sib = table.filter(col("event_type") =!= "purchase")
    val sibWant = ev.filter(col("event_type") =!= "purchase")
    assert(sib.exceptAll(sibWant).isEmpty && sibWant.exceptAll(sib).isEmpty)
    // the repaired partition carries exactly the cleaned batch
    val rep = table.filter(col("event_type") === "purchase")
    val repWant = ev
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .withColumn("value", least(col("value"), lit(100.0)))
    assert(rep.exceptAll(repWant).isEmpty && repWant.exceptAll(rep).isEmpty)
    // the repaired partition's row count is exactly the non-null purchases
    // (at sf0.001 no purchase value is null, so equality — not strict
    // shrinkage — is the invariant; the sf0.01 oracle gate covers drops)
    assert(rep.count() ==
      ev.filter(col("event_type") === "purchase" && col("value").isNotNull).count())
  }

  test("the dynamic-overwrite entries leave the caller's conf unchanged") {
    SparkSpec.withFreshSession() { s =>
      val before = s.conf.getAll
      Layout.partitionOverwrite(s, sfDir).collect()
      Layout.forgetUsers(s, sfDir).collect()
      assert(s.conf.getAll == before)
    }
  }

  test("forget users: audit reconciles and no forgotten row survives the rewrite") {
    val r = Layout.forgetUsers(spark, sfDir).head()
    assert(r.getAs[Long]("forgotten_rows_remaining") == 0L)
    assert(r.getAs[Long]("n_partitions_rewritten") <= r.getAs[Long]("n_partitions"))
    // the physical table truly no longer carries the forgotten users
    val after = spark.table("graft_events_rtbf")
    assert(after.filter(col("user_id") % 137 === 0).isEmpty)
    val ev = graft.Tables.events(spark, sfDir)
    val wantRows = ev.filter(col("user_id") % 137 =!= 0).count()
    assert(r.getAs[Long]("rows_after") == wantRows)
    assert(r.getAs[Long]("n_users_forgotten") ==
      ev.select("user_id").distinct().filter(col("user_id") % 137 === 0).count())
  }
}
