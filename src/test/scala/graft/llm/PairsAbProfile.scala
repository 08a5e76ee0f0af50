package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.RunScope.ScratchCacheOps

/** Manual in-JVM alternated A/B for the r22 §12 native `ordered_pairs`
  * expansion vs the interpreted flatten/transform/slice HOF chain it
  * replaced (inline copies of the pre-§12 kernels, verbatim); not run
  * by the test suite.
  * `sbt "Test/runMain graft.llm.PairsAbProfile <sfDir> [reps]"`.
  * Asserts identical outputs before timing. Covers the three distinct
  * call-site shapes: the basket expansion (long elements), the source
  * vocabulary expansion (string elements), and the inverted-index
  * posting expansion (struct elements). */
object PairsAbProfile {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 5
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.maxFields", "256")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def measure(label: String)(f: => Unit): Double = {
      graft.RunScope.releaseAll(blocking = true)
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      graft.RunScope.releaseAll(blocking = true)
      println(f"[ab] $label%-28s ${dt}%6.2f s")
      dt
    }

    // ---- pre-§12 kernels, verbatim ----

    def oldBasket(items: DataFrame): DataFrame = {
      val baskets = items.groupBy("orderkey")
        .agg(sort_array(collect_set(col("partkey"))).as("parts"))
        .scratchCache()
      val totals = baskets.agg(count(lit(1)).as("n_orders"))
      val perPart = baskets.select(explode(col("parts")).as("partkey"))
        .groupBy("partkey").agg(count(lit(1)).as("n"))
      val pairs = baskets
        .filter(size(col("parts")) >= 2)
        .select(explode(expr(
          """flatten(transform(parts, (x, i) ->
            |  transform(slice(parts, i + 2, size(parts)),
            |            y -> struct(x AS part_a, y AS part_b))))""".stripMargin)).as("p"))
        .groupBy(col("p.part_a").as("part_a"), col("p.part_b").as("part_b"))
        .agg(count(lit(1)).as("pair_orders"))
        .filter(col("pair_orders") >= 2)
      pairs
        .join(perPart.select(col("partkey").as("part_a"), col("n").as("orders_a")), "part_a")
        .join(perPart.select(col("partkey").as("part_b"), col("n").as("orders_b")), "part_b")
        .crossJoin(broadcast(totals))
        .select(col("part_a"), col("part_b"), col("pair_orders"),
          col("orders_a"), col("orders_b"),
          round(col("pair_orders").cast("double") * col("n_orders") /
            (col("orders_a") * col("orders_b")), 6).as("lift"))
        .orderBy("part_a", "part_b")
    }

    def oldSourceOverlap(): DataFrame = {
      val bySh = Dedup.shinglesOf(graft.Tables.spread(graft.Tables.documents(spark, dir)))
        .select(col("source"),
          explode(expr("transform(shingles, s -> xxhash64(s))")).as("shingle"))
        .groupBy("shingle")
        .agg(sort_array(collect_set(col("source"))).as("srcs"))
        .scratchCache()
      val counts = bySh.select(explode(col("srcs")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("n"))
      val pairs = bySh
        .filter(size(col("srcs")) >= 2)
        .select(explode(expr(
          """flatten(transform(srcs, (x, i) ->
            |  transform(slice(srcs, i + 2, size(srcs)),
            |            y -> struct(x AS source_a, y AS source_b))))""".stripMargin)).as("p"))
        .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
        .agg(count(lit(1)).as("shared"))
      pairs
        .join(counts.select(col("source").as("source_a"), col("n").as("n_a")), "source_a")
        .join(counts.select(col("source").as("source_b"), col("n").as("n_b")), "source_b")
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("shared"),
          round(col("shared").cast("double") /
            (col("n_a") + col("n_b") - col("shared")), 6).as("jaccard"))
        .orderBy("source_a", "source_b")
    }

    def oldJaccard(sh: DataFrame, maxDf: Int): DataFrame = {
      graft.GraftFunctions.registerAll(sh.sparkSession)
      val ex = sh.select(col("doc_id"), size(col("shingles")).as("n"),
          explode(expr("transform(shingles, s -> xxhash64(s))")).as("s"))
      val postings = ex
        .groupBy("s")
        .agg(expr(s"capped_list(named_struct('doc_id', doc_id, 'n', n), $maxDf)")
          .as("ds0"))
        .filter(col("ds0").isNotNull && size(col("ds0")) >= 2)
        .select(sort_array(col("ds0")).as("ds"))
      val occ = postings.select(explode(expr(
        """flatten(transform(ds, (a, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |            b -> named_struct('a', a, 'b', b))))""".stripMargin)).as("p"))
      occ
        .groupBy(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
          col("p.a.n").as("na"), col("p.b.n").as("nb"))
        .agg(count(lit(1)).as("inter"))
        .withColumn("j",
          col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
        .filter(col("j") >= 0.5 - 1e-6)
        .withColumn("jaccard", round(col("j"), 6))
        .filter(col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    }

    def items(): DataFrame = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("orderkey"), col("l_partkey").as("partkey"))
    def shingles(): DataFrame = Dedup.shinglesOf(
      graft.Tables.spread(graft.Tables.documents(spark, dir)))
      .select("doc_id", "shingles")

    // identical outputs first
    for ((label, o, n) <- Seq[(String, () => DataFrame, () => DataFrame)](
      ("basket", () => oldBasket(items()),
        () => graft.analytics.Behavior.basketPartPairs(spark, dir)),
      ("source_overlap", () => oldSourceOverlap(),
        () => Dedup.sourceOverlapMatrix(spark, dir)),
      ("jaccard", () => oldJaccard(shingles(), Dedup.DefaultMaxShingleDf),
        () => Dedup.ngramJaccardPairs(spark, dir)))) {
      val a = o().collect().toSeq
      graft.RunScope.releaseAll(blocking = true)
      val b = n().collect().toSeq
      graft.RunScope.releaseAll(blocking = true)
      require(a == b, s"$label outputs differ: ${a.size} vs ${b.size}")
      println(s"[ab] $label outputs identical (${a.size} rows)")
    }

    // warm both sides once
    noop(oldBasket(items())); graft.RunScope.releaseAll(blocking = true)
    noop(graft.analytics.Behavior.basketPartPairs(spark, dir))
    graft.RunScope.releaseAll(blocking = true)

    var bo = List.empty[Double]; var bn = List.empty[Double]
    var so = List.empty[Double]; var sn = List.empty[Double]
    var jo = List.empty[Double]; var jn = List.empty[Double]
    for (_ <- 1 to reps) {
      bo ::= measure("basket OLD (HOF)")(noop(oldBasket(items())))
      bn ::= measure("basket NEW (ordered_pairs)")(
        noop(graft.analytics.Behavior.basketPartPairs(spark, dir)))
      so ::= measure("source OLD (HOF)")(noop(oldSourceOverlap()))
      sn ::= measure("source NEW (ordered_pairs)")(
        noop(Dedup.sourceOverlapMatrix(spark, dir)))
      jo ::= measure("jaccard OLD (HOF)")(
        noop(oldJaccard(shingles(), Dedup.DefaultMaxShingleDf)))
      jn ::= measure("jaccard NEW (ordered_pairs)")(
        noop(Dedup.ngramJaccardPairs(spark, dir)))
    }
    println(f"[ab] summary: basket old min ${bo.min}%.2f → new ${bn.min}%.2f; " +
      f"source old min ${so.min}%.2f → new ${sn.min}%.2f; " +
      f"jaccard old min ${jo.min}%.2f → new ${jn.min}%.2f")
    spark.stop()
  }
}
