package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, spark_partition_id, sum}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.RunScope.ScratchCacheOps

/** Parquet corpus loaders (TESTDATA.md). One call = one lazy scan and no
  * Spark job: the schema comes from one parquet footer read on the driver
  * ([[footerSchema]]), so the read skips the one-task schema-inference job
  * `spark.read.parquet` would launch. Catalyst prunes columns/pushes
  * filters into the parquet reader, so callers should NOT pre-select —
  * just compose and let the optimizer narrow the scan (verify with
  * .explain: ReadSchema / PushedFilters).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path) // missing or empty: Spark's own error
    }
  }

  /** The schema Spark's non-merging parquet inference would give `path`,
    * read on the driver without a job: the footer of the first data file
    * (a plain file, or the sorted first of a directory's files that do not
    * start with `_` or `.`), converted by the same
    * [[ParquetToSparkSchemaConverter]] over the session's current conf, so
    * settings such as `spark.sql.legacy.parquet.nanosAsLong` apply. None
    * when the path has no data file. Read afresh on every call. */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file =
      if (!fs.exists(root)) None
      else if (fs.getFileStatus(root).isFile) Some(root)
      else fs.listStatus(root).filter(_.isFile).map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .sortBy(_.getName).headOption
    file.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      val footer = try reader.getFooter finally reader.close()
      ParquetFileFormat.readSchemaFromFooter(new Footer(f, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** The driver's events.parquet stores ts as TIMESTAMP(NANOS), which
    * Spark's parquet reader rejects by default: read nanos as long and
    * convert to a µs timestamp with integer division (the corpus
    * generator emits µs precision, so the ns remainder is 0 — lossless).
    * Other writers (e.g. tools/gen_scale.py via DuckDB) emit encodings
    * Spark reads natively as TIMESTAMP_NTZ or TIMESTAMP — normalize all
    * three to a session-TZ timestamp so every consumer sees one type. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Spread a sub-parallel scan to full parallelism before CPU-heavy
    * per-row work (shingling, signature building, feature extraction).
    * A small single-file table plans as one split, which serializes every
    * downstream transform no matter how many cores the cluster has; at
    * real scale file splits already exceed `defaultParallelism` and this
    * is the identity, so the repartition only ever moves inputs small
    * enough for the shuffle to be noise. The partition probe reads the
    * planned scan, not the data. */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Target bytes per partition for [[sizedSpread]] — the advisory-
    * partition-size class of constant (not a core count). */
  val SizedSpreadTargetBytes: Long = 8L << 20

  /** SIZE-DERIVED spread for small kernel-input frames that get cached
    * and then re-read by many short jobs (Lloyd rounds, model collects,
    * assignment + candidate joins): partitions = clamp(ceil(plan-stats
    * bytes / [[SizedSpreadTargetBytes]]), 1, defaultParallelism).
    *
    * Replaces blanket `repartition(defaultParallelism)` at those sites
    * (r21, guide §2: derive partitioning from input size, never a core
    * constant): at bench scale the frames are hundreds of KB, so the
    * blanket spread made EVERY downstream job schedule defaultParallelism
    * near-empty tasks — per-entry seconds of pure scheduler overhead over
    * an iterative kernel; at production scale the byte estimate exceeds
    * the cap and this is exactly the old spread. Always a repartition
    * (round-robin shuffle), so upstream scan/decode work keeps its own
    * parallelism — only the cached layout is sized. Results are invariant:
    * partitioning never changes what any kernel here computes (exact
    * decimal aggregates, per-row projections, key-partitioned joins). */
  def sizedSpread(df: DataFrame): DataFrame = {
    val cap = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val p = ((bytes + SizedSpreadTargetBytes - 1) / SizedSpreadTargetBytes)
      .min(BigInt(cap)).max(BigInt(1)).toInt
    df.repartition(p)
  }

  /** Chain-friendly form: `frame.sizedSpread()` (the ScratchCacheOps
    * pattern). */
  implicit class SizedSpreadOps(private val df: DataFrame) extends AnyVal {
    def sizedSpread(): DataFrame = Tables.sizedSpread(df)
  }

  /** Two-phase distributed global running sum of the LONG `value` under
    * the total order `sortCols` (which must be tie-free), added as
    * `outCol` = the inclusive running sum. With `value = lit(1L)` it IS
    * `row_number()` under that order: the one ordinal kernel, behind the
    * surrogate keys and SCD id stamps (category_dim, company_dim,
    * scd2_resolution, scd3_issue), the rank statistics (gini_spend,
    * customer_percentiles, mann_whitney_value, spearman_value_hour) and
    * the token running totals (token_budget_select, pack_sequences,
    * corpus_prep_pipeline).
    *
    *  1. range-partition on the order and sort within partitions (the one
    *     data-sized exchange, at any scale; no single-task window);
    *  2. per-partition local running sums, a partition-local fold;
    *  3. each partition's offset = prefix sum of the per-partition totals,
    *     a window over ≤ #partitions rows (config-bounded, not
    *     data-bounded), broadcast-joined back.
    *
    * The ranged frame is cached because both consumers (local sums,
    * partition totals) must see the identical partition placement; rows
    * in a cached partition keep their `sortWithinPartitions` order, so the
    * fold visits them in the window's frame order and integer addition is
    * exact. The local sums are a `mapPartitions` fold, not a
    * `Window.partitionBy(_pid)`: Catalyst cannot know the cache's layout
    * already clusters by `_pid`, so the window form re-shuffled the whole
    * frame a second time. Nulls follow sum-over-longs (NULL until the
    * first non-null value, skipped after; SamplingSpec pins the kernel
    * against a single-window reference), so `outCol` is nullable exactly
    * when `value` is. Building the result starts no Spark job. */
  private[graft] def globalRunningSum(d: DataFrame, sortCols: Seq[Column],
      value: Column, outCol: String): DataFrame = {
    val n = d.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = d.repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_v", value)
      .scratchCache()
    val v = ranged.schema("_v")
    require(v.dataType == LongType,
      s"globalRunningSum expects a LONG value column, got ${v.dataType.simpleString}")
    val outSchema = ranged.schema.add("_lcum", LongType, nullable = v.nullable)
    val vIdx = ranged.schema.fieldIndex("_v")
    val local = ranged.mapPartitions { it =>
      var acc = 0L
      var seen = false
      it.map { r =>
        if (!r.isNullAt(vIdx)) { acc += r.getLong(vIdx); seen = true }
        Row.fromSeq(r.toSeq :+ (if (seen) java.lang.Long.valueOf(acc) else null))
      }
    }(Encoders.row(outSchema))
    val offsets = ranged.groupBy("_pid")
      .agg(sum(col("_v")).as("_ptot"))
      .withColumn("_off", coalesce(
        sum(col("_ptot")).over(Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("_pid", "_off")
    local.join(broadcast(offsets), Seq("_pid"))
      .withColumn(outCol, col("_off") + col("_lcum"))
      .drop("_pid", "_v", "_lcum", "_off")
  }
}
