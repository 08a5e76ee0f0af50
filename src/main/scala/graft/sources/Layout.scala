package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Physical-layout operators — the storage-side half of the shuffle-
  * minimization story (builder brief: "bucketing for co-located joins",
  * partition pruning):
  *
  *  - bucketedJoin: both join sides written as bucketed+sorted tables on
  *    the join key; the sort-merge join then needs NO exchange and NO
  *    per-query sort — at 100 TB this converts every recurring join on
  *    that key from a full shuffle into a local merge (pay the shuffle
  *    once at write time, amortize over every query).
  *  - partitionedScan: a write partitioned by a low-cardinality column;
  *    an equality filter then prunes entire directories at planning time
  *    (`PartitionFilters` in the scan, pinned by LayoutSpec) — the
  *    columnar analogue of the reference's B-tree point lookups
  *    (creating-tables.sql:11-21).
  *
  * Both entries rebuild their tables per run (same catalog/location
  * hygiene as Lifecycle.tableLifecycle) and return plain aggregates whose
  * oracles are the unbucketed/unpartitioned formulations — layout must
  * never change results.
  */
object Layout {

  /** Drop a managed table and clear any leftover files at its warehouse
    * location (a fresh JVM has an empty in-memory catalog, but a previous
    * run's files survive on disk and CTAS refuses a non-empty location).
    * Deletion goes through the Hadoop FileSystem resolved from the
    * warehouse URI — not java.io.File — so the same code works when
    * spark.sql.warehouse.dir points at HDFS or an object store. */
  private[graft] def dropManagedTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val loc = new org.apache.hadoop.fs.Path(wh, table)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(loc, true); ()
  }

  private def recreate(spark: SparkSession, table: String): Unit =
    dropManagedTable(spark, table)

  /** Co-located join via bucketing: orders and a lineitem projection both
    * bucketed+sorted into 8 buckets on the order key.
    *
    * MEASUREMENT note (round 8, sf0.1 local[32]): the registered entry
    * re-pays BOTH bucketed writes per execution — measured ~85% of its
    * time (build 2.6–3.4 s vs join-only 0.56–0.68 s warm) — so the bench
    * number tracks write throughput, not the join this layout exists to
    * accelerate. The exchange-free join itself is the 0.6 s part (plan
    * pinned by LayoutSpec); at 100 TB the writes happen once at ingest
    * and every recurring join gets the merge-only plan. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    recreate(spark, "graft_orders_b")
    recreate(spark, "graft_lineitem_b")
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("graft_orders_b")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("graft_lineitem_b")
    spark.table("graft_lineitem_b")
      .join(spark.table("graft_orders_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_quantity").cast("decimal(18,2)")), 2)
          .cast("double").as("qty_sum"))
      .orderBy("o_orderstatus")
  }

  val bucketedJoinSql: String =
    """SELECT o_orderstatus, count(*) AS n_lines,
      |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS qty_sum
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Partition-pruned scan: events written partitioned by event_type; the
    * equality filter prunes all other partitions at planning time. */
  def partitionedScan(spark: SparkSession, dir: String): DataFrame = {
    recreate(spark, "graft_events_p")
    Tables.events(spark, dir)
      .select("event_id", "user_id", "value", "event_type")
      .write.partitionBy("event_type")
      .mode("overwrite").saveAsTable("graft_events_p")
    spark.table("graft_events_p")
      .filter(col("event_type") === "purchase") // prunes to one directory
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")), 6)
          .cast("double").as("value_sum"))
      .orderBy("event_type")
  }

  val partitionedScanSql: String =
    """SELECT event_type, count(*) AS n,
      |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS value_sum
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Target output file size for [[compactTable]]. 16 MB at test scale;
    * production uses 128 MB–1 GB (≈ `maxPartitionBytes` so one compacted
    * file feeds one scan task). */
  private[sources] val CompactTargetBytes: Long = 16L << 20

  /** Small-file COMPACTION — the maintenance operator every streaming or
    * micro-batch ingest needs at scale: thousands of tiny parquet files
    * per partition turn a scan into a file-listing + task-scheduling
    * storm (and an object-store request bill). The entry simulates a
    * fragmented ingest (events rewritten as 64 splinter files), then
    * compacts: rewrite at ceil(bytes / target) output files, the file
    * count derived from Catalyst's file-size statistics — METADATA only,
    * no data ever reaches the driver. The rewrite is one round-robin
    * repartition (no key skew possible) and scales as a pure map-side
    * shuffle; at 100 TB it runs per partition-predicate slice, not
    * whole-table. Correctness surface: an aggregate over the COMPACTED
    * table, oracle-checked against the raw events — compaction must
    * never change content (and CompactionSpec pins the file counts). */
  def compactTable(spark: SparkSession, dir: String): DataFrame = {
    recreate(spark, "graft_events_frag")
    recreate(spark, "graft_events_compact")
    Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "value")
      .repartition(64) // simulate the many-small-files ingest pathology
      .write.mode("overwrite").saveAsTable("graft_events_frag")
    val frag = spark.table("graft_events_frag")
    val bytes = frag.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = ((bytes + CompactTargetBytes - 1) / CompactTargetBytes)
      .max(BigInt(1)).toInt
    frag.repartition(nFiles)
      .write.mode("overwrite").saveAsTable("graft_events_compact")
    spark.table("graft_events_compact")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")), 6)
          .cast("double").as("value_sum"))
      .orderBy("event_type")
  }

  val compactTableSql: String =
    """SELECT event_type, count(*) AS n,
      |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS value_sum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Dynamic PARTITION OVERWRITE — the reprocess-one-partition idiom that
    * replaces DELETE + INSERT on immutable storage: load the events table
    * partitioned by event_type, then rewrite ONLY the 'purchase'
    * partition with a cleaned batch (null values dropped, values capped)
    * via `partitionOverwriteMode=dynamic` — every other partition's files
    * are untouched (pinned by LayoutSpec against the static mode, which
    * would have truncated them). At 100 TB this is how a backfill
    * repairs one bad day without rewriting the table: the swap is
    * metadata-plus-one-partition I/O, proportional to the repaired slice,
    * not the table. `partitionOverwriteMode=dynamic` is set for the
    * repair write only, on a CHILD session (`newSession`: own conf,
    * shared catalog), so the caller's conf is never written (the
    * per-write DataFrameWriter option is NOT honored on this path —
    * verified: the write ran static and truncated the sibling partitions
    * — so the session conf is the working mechanism). */
  def partitionOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    recreate(s, "graft_events_po")
    val ev = Tables.events(s, dir)
      .select("event_id", "user_id", "value", "event_type")
    ev.write.partitionBy("event_type")
      .mode("overwrite").saveAsTable("graft_events_po")
    // the repair batch: purchase rows only, nulls dropped, values capped
    val cleaned = ev
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .withColumn("value", least(col("value"), lit(100.0)))
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    cleaned.write.mode("overwrite").insertInto("graft_events_po")
    s.table("graft_events_po")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")), 6)
          .cast("double").as("value_sum"))
      .orderBy("event_type")
  }

  /** Oracle: the post-overwrite state — original rows everywhere except
    * the repaired partition, which carries the cleaned batch. */
  val partitionOverwriteSql: String =
    """WITH final AS (
      |  SELECT event_id, value, event_type FROM events
      |  WHERE event_type <> 'purchase'
      |  UNION ALL
      |  SELECT event_id, least(value, 100.0) AS value, event_type FROM events
      |  WHERE event_type = 'purchase' AND value IS NOT NULL
      |)
      |SELECT event_type, count(*) AS n,
      |       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS value_sum
      |FROM final GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Bits per z-order dimension (16 ⇒ a 32-bit interleaved code). */
  private[sources] val ZBits = 16
  private[sources] val ZMax: Long = (1L << ZBits) - 1

  /** Spread the low 16 bits of `c` to the even bit positions (Morton
    * interleave half): the classic 4-step magic-mask dilation — pure
    * codegen'd bigint bit-math, identical on any SQL engine. */
  private def spreadBits(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-ORDER (Morton) clustering codes over `orders(o_orderdate,
    * o_totalprice)` — the layout operator for multi-column scan pruning.
    * A single-column sort gives tight parquet min/max bounds on ONE
    * column and useless bounds on every other; sorting by the bit-
    * interleaved code of both (quantized) columns gives every file a
    * bounded range on BOTH, so selective predicates on either column (or
    * both) skip most files. This is the same layout contract as Delta's
    * OPTIMIZE ZORDER BY; here the code computation is the registered,
    * oracle-checked surface, and ZorderSpec demonstrates the actual
    * file-skipping effect by writing both layouts and measuring per-file
    * min/max spans.
    *
    * Shape: one tiny 4-scalar aggregate for the quantization bounds
    * (broadcast back — no driver collect), then a pure per-row projection:
    * quantize each dimension to 16 bits against the bounds, dilate with
    * 4 magic-mask steps each, interleave. At 100 TB the code is computed
    * in the write pipeline and fed to `repartitionByRange(zval)` +
    * `sortWithinPartitions(zval)` — one range shuffle, the same cost as
    * any global sort, paid once at layout time. Quantization/interleave
    * are integer/IEEE-double ops with identical semantics on both
    * engines, so the oracle matches bit-for-bit. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey"),
      datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")).as("dd"),
      col("o_totalprice").as("price"))
    val bounds = o.agg(
      min("dd").as("dmin"), max("dd").as("dmax"),
      min("price").as("pmin"), max("price").as("pmax"))
    // constant-column guard: a zero-width dimension would divide by zero
    // (NULL zval for every row); quantize it to bucket 0 instead, matching
    // embeddingQuantize's mx = mn handling
    o.crossJoin(broadcast(bounds))
      .select(col("o_orderkey"),
        when(col("dmax") === col("dmin"), lit(0L))
          .otherwise(floor((col("dd") - col("dmin")) * lit(65535.0)
            / (col("dmax") - col("dmin"))).cast("long")).as("qd"),
        when(col("pmax") === col("pmin"), lit(0L))
          .otherwise(floor((col("price") - col("pmin")) * lit(65535.0)
            / (col("pmax") - col("pmin"))).cast("long")).as("qp"))
      .withColumn("zval",
        spreadBits(col("qd")).bitwiseOR(shiftleft(spreadBits(col("qp")), 1)))
      .orderBy("zval", "o_orderkey")
  }

  val zorderLayoutSql: String =
    """WITH o AS (
      |  SELECT o_orderkey,
      |         CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS dd,
      |         o_totalprice AS price
      |  FROM orders
      |), b AS (
      |  SELECT min(dd) AS dmin, max(dd) AS dmax,
      |         min(price) AS pmin, max(price) AS pmax FROM o
      |), q AS (
      |  SELECT o_orderkey,
      |         CASE WHEN dmax = dmin THEN 0
      |              ELSE CAST(floor((dd - dmin) * 65535.0 / (dmax - dmin)) AS BIGINT)
      |         END AS qd,
      |         CASE WHEN pmax = pmin THEN 0
      |              ELSE CAST(floor((price - pmin) * 65535.0 / (pmax - pmin)) AS BIGINT)
      |         END AS qp
      |  FROM o, b
      |), s1 AS (SELECT o_orderkey, qd, qp, (qd | (qd << 8)) & 16711935 AS d1,
      |                 (qp | (qp << 8)) & 16711935 AS p1 FROM q
      |), s2 AS (SELECT o_orderkey, qd, qp, (d1 | (d1 << 4)) & 252645135 AS d2,
      |                 (p1 | (p1 << 4)) & 252645135 AS p2 FROM s1
      |), s3 AS (SELECT o_orderkey, qd, qp, (d2 | (d2 << 2)) & 858993459 AS d3,
      |                 (p2 | (p2 << 2)) & 858993459 AS p3 FROM s2
      |), s4 AS (SELECT o_orderkey, qd, qp, (d3 | (d3 << 1)) & 1431655765 AS d4,
      |                 (p3 | (p3 << 1)) & 1431655765 AS p4 FROM s3
      |)
      |SELECT o_orderkey, qd, qp, (d4 | (p4 << 1)) AS zval FROM s4
      |ORDER BY zval, o_orderkey""".stripMargin

  /** Parquet data-file count at a managed table's location (spec helper —
    * counts real files, ignoring _SUCCESS/CRC markers). */
  private[sources] def dataFileCount(spark: SparkSession, table: String): Int = {
    val loc = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")), table)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(loc).count(s => s.getPath.getName.endsWith(".parquet"))
  }

  /** Simulated deletion-request list for [[forgetUsers]]: every 137th
    * user. In production the list arrives from the privacy system; the
    * modulus stands in deterministically. */
  private val ForgetMod = 137

  /** Right-to-be-forgotten rewrite — the GDPR/CCPA delete on immutable
    * columnar storage: drop every event of the requested users by
    * rewriting ONLY the partitions that contain them. The three-step
    * pattern every lakehouse delete implements under the hood:
    *   1. locate — join the forget list (broadcast; deletion batches
    *      are tiny) against the table to find the AFFECTED partitions;
    *   2. rewrite — anti-join just those partitions' rows and
    *      dynamic-partition-overwrite them in place; untouched
    *      partitions keep their original files byte-for-byte;
    *   3. audit — report the partition/row/user accounting the privacy
    *      team files.
    * At 100 TB the pruning is the entire ballgame: a user's events
    * cluster in a handful of date partitions, so the rewrite touches
    * GBs, not the full table (a naive overwrite-everything delete IS
    * the full table). Output is the 1-row audit.
    *
    * Edge case the audit exists to catch: dynamic overwrite only
    * replaces partitions PRESENT in the written batch, so a partition
    * whose every row belonged to forgotten users would keep its stale
    * files (a production delete issues explicit per-partition drops for
    * those). `forgotten_rows_remaining` would then be nonzero and the
    * oracle compare fails loudly — the audit is the safety net, not
    * decoration. */
  def forgetUsers(spark: SparkSession, dir: String): DataFrame = {
    val s = spark.newSession()
    recreate(s, "graft_events_rtbf")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        col("ts").cast("date").as("m"))
    ev.write.partitionBy("m").mode("overwrite")
      .saveAsTable("graft_events_rtbf")
    // materialize the locate step BEFORE the rewrite mutates the table —
    // lazy frames re-reading the overwritten table would audit the wrong
    // state (and report zero affected partitions)
    val forget = ev.select("user_id").distinct()
      .filter(col("user_id") % ForgetMod === 0)
      .localCheckpoint()
    val t = s.table("graft_events_rtbf")
    val affected = t.join(broadcast(forget), "user_id")
      .select("m").distinct()
      .localCheckpoint()
    val rewritten = t.join(broadcast(affected), "m")
      .join(broadcast(forget), Seq("user_id"), "left_anti")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // insertInto resolves by position: match the table's column order
    // (partition column last)
    rewritten.select("event_id", "user_id", "value", "m")
      .write.mode("overwrite").insertInto("graft_events_rtbf")
    val after = s.table("graft_events_rtbf")
    after.agg(
      countDistinct(col("m")).as("n_partitions"),
      count(lit(1)).as("rows_after"),
      sum(when(col("user_id") % ForgetMod === 0, 1L).otherwise(0L))
        .as("forgotten_rows_remaining"))
      .crossJoin(broadcast(affected.agg(
        count(lit(1)).as("n_partitions_rewritten"))))
      .crossJoin(broadcast(forget.agg(
        count(lit(1)).as("n_users_forgotten"))))
      .select(col("n_partitions"), col("n_partitions_rewritten"),
        col("rows_after"), col("forgotten_rows_remaining"),
        col("n_users_forgotten"))
  }

  /** Oracle: the post-delete state computed directly — every partition
    * present, affected-partition accounting from the forget list, zero
    * surviving rows for forgotten users. */
  val forgetUsersSql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, CAST(ts AS DATE) AS m
       |  FROM events
       |), forget AS (
       |  SELECT DISTINCT user_id FROM ev WHERE user_id % $ForgetMod = 0
       |), affected AS (
       |  SELECT DISTINCT m FROM ev JOIN forget USING (user_id)
       |)
       |SELECT (SELECT count(DISTINCT m) FROM ev) AS n_partitions,
       |       (SELECT count(*) FROM affected) AS n_partitions_rewritten,
       |       (SELECT count(*) FROM ev WHERE user_id % $ForgetMod <> 0)
       |         AS rows_after,
       |       CAST(0 AS BIGINT) AS forgotten_rows_remaining,
       |       (SELECT count(*) FROM forget) AS n_users_forgotten""".stripMargin
}
