package graft.llm

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class SamplingSpec extends SparkSpec {

  test("leakage-safe split: clusters stay whole, unclustered docs unmoved") {
    val ls = Sampling.leakageSafeSplit(spark, sfDir).cache()
    assert(ls.count() == graft.Tables.documents(spark, sfDir).count())
    // every near-dup cluster lands in exactly one split
    val clusters = Dedup.dedupClusters(spark, sfDir)
      .select(col("doc_id"), col("cluster_id"))
    val perCluster = ls.join(clusters, "doc_id")
      .groupBy("cluster_id").agg(countDistinct("split").as("nsplits"))
    assert(perCluster.filter(col("nsplits") =!= 1).isEmpty)
    // strict refinement: unclustered docs keep their plain hash_split
    val plain = Sampling.hashSplit(spark, sfDir)
      .select(col("doc_id"), col("split").as("plain_split"))
    val unclustered = ls.join(clusters.select("doc_id"), Seq("doc_id"), "left_anti")
    assert(unclustered.join(plain, "doc_id")
      .filter(col("split") =!= col("plain_split")).isEmpty)
    ls.unpersist()
  }

  test("split balance: cells cover the corpus, shares sum to 1 per split") {
    val b = Sampling.splitBalance(spark, sfDir).cache()
    assert(b.agg(sum("n_docs")).head().getLong(0) ==
      graft.Tables.documents(spark, sfDir).count())
    b.groupBy("split").agg(sum("lang_share").as("s")).collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-4, r.getString(0))
    }
    assert(b.select("split").distinct().count() == 3)
    b.unpersist()
  }

  test("source mix report: shares sum to 1, counts cover the corpus") {
    val r = Sampling.sourceMixReport(spark, sfDir).cache()
    val docs = graft.Tables.documents(spark, sfDir)
    assert(r.agg(sum("n_docs")).head().getLong(0) == docs.count())
    val shareSum = r.agg(sum("token_share")).head().getDouble(0)
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares sum to $shareSum")
    assert(r.filter(col("n_langs") < 1 || col("token_share") <= 0).isEmpty)
    r.unpersist()
  }

  test("stratified sample is deterministic and respects per-language rates") {
    val s1 = Sampling.stratifiedSample(spark, sfDir)
    val s2 = Sampling.stratifiedSample(spark, sfDir)
    // pure function of the key: byte-identical across runs
    assert(s1.except(s2).isEmpty && s2.except(s1).isEmpty)
    // every kept bucket is under its language's rate
    val rates = Sampling.RatesPerMille.toMap
    val bad = s1.collect().filter { r =>
      r.getLong(3) >= rates.getOrElse(r.getString(1), 1000).toLong
    }
    assert(bad.isEmpty, bad.take(3).mkString(", "))
    // the dominant language is actually down-sampled (rate 300 ⇒ roughly
    // 30% kept; the arithmetic hash is uniform enough for a wide bound)
    val en = Tables.documents(spark, sfDir).filter(col("lang") === "en").count()
    val enKept = s1.filter(col("lang") === "en").count()
    assert(enKept > 0 && enKept < en * 6 / 10, s"$enKept of $en")
  }

  test("token budget select equals the naive global-window formulation") {
    val got = Sampling.tokenBudgetSelect(spark, sfDir)
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        col("n_chars"))
    val w = Window.orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = d.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < 10000L)
      .select("doc_id", "lang", "n_tokens", "cum_tokens")
    assert(got.except(naive).isEmpty && naive.except(got).isEmpty)
    assert(got.count() > 0)
  }

  test("hash split is deterministic, complete, and near the 80/10/10 target") {
    import spark.implicits._
    // uniformity on a clean id range, independent of the corpus
    val ids = (0L until 10000L).toDF("doc_id")
    val got = Sampling.hashSplitFrom(ids, col("doc_id")).cache()
    val byName = got.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.values.sum == 10000L && byName.keySet == Set("train", "val", "test"))
    assert(byName("train") > 7600 && byName("train") < 8400, byName.toString)
    assert(byName("val") > 700 && byName("val") < 1300, byName.toString)
    assert(byName("test") > 700 && byName("test") < 1300, byName.toString)
    // bucket ∈ [0, 100) and split follows the bounds exactly
    assert(got.filter(col("bucket") < 0 || col("bucket") >= 100).isEmpty)
    assert(got.filter(
      (col("bucket") < 80 && col("split") =!= "train") ||
      (col("bucket") >= 80 && col("bucket") < 90 && col("split") =!= "val") ||
      (col("bucket") >= 90 && col("split") =!= "test")).isEmpty)
  }

  test("hash split assignment is stable under corpus growth") {
    import spark.implicits._
    // a document's split is a pure function of its id: computing it on a
    // subset equals computing it on the full set (no rank/percentile
    // relabeling on ingest)
    val full = Sampling.hashSplitFrom((0L until 1000L).toDF("doc_id"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val sub = Sampling.hashSplitFrom((0L until 1000L by 7).toDF("doc_id"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(sub.forall { case (id, s) => full(id) == s })
  }

  test("hash split plans as a pure projection - no exchange before the presentation sort") {
    val plan = Sampling.hashSplit(spark, sfDir).queryExecution.executedPlan.toString
    // exactly one Exchange: the orderBy's range partitioning
    assert(plan.split("Exchange").length - 1 == 1, plan)
  }

  test("globalRunningSum fold matches the r21 _pid-window form on null values (r22 mapPartitions form)") {
    import spark.implicits._
    // the r22 partition-local fold replaced a Window.partitionBy(_pid)
    // running sum; on NULL values it must reproduce that predecessor
    // exactly (NULL until the partition's first non-null, nulls skipped
    // after — note this is a PER-PARTITION contract: a null-value row in
    // a partition with no earlier in-partition value gets NULL cum even
    // when earlier partitions carry values; every registered caller
    // passes non-null values, where the two-phase sum is total-order
    // exact, as the naive-window equality tests above pin)
    val d = Seq[(Long, java.lang.Long)](
      (1L, null), (2L, null), (3L, 5L), (4L, null), (5L, 7L), (6L, 2L))
      .toDF("k", "v")
    val got = Tables.globalRunningSum(d, Seq(col("k")), col("v"), "cum")
      .select("k", "cum").as[(Long, Option[Long])].collect().toMap
    // the r21 formulation, inline: same range partitioning, local window
    // keyed on _pid, offsets broadcast back
    val n = spark.sessionState.conf.numShufflePartitions
    val ranged = d.repartitionByRange(n, col("k"))
      .sortWithinPartitions(col("k"))
      .withColumn("_pid", spark_partition_id())
      .cache()
    val localW = Window.partitionBy(col("_pid")).orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = ranged.withColumn("_lcum", sum(col("v")).over(localW))
    val offsets = ranged.groupBy("_pid").agg(sum(col("v")).as("_ptot"))
      .withColumn("_off", coalesce(
        sum(col("_ptot")).over(Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("_pid", "_off")
    val ref = local.join(broadcast(offsets), Seq("_pid"))
      .withColumn("cum", col("_off") + col("_lcum"))
      .select("k", "cum").as[(Long, Option[Long])].collect().toMap
    ranged.unpersist()
    assert(got == ref, s"got $got, ref $ref")
    // non-null region: exact running sums
    assert(got(1L).isEmpty && got(3L).contains(5L) && got(6L).contains(14L))
  }

  test("token budget select is invariant to the partition count") {
    // the two-phase prefix sum must produce identical rows for any
    // range-partitioning, because the (n_chars, doc_id) ordering is total
    val base = Sampling.tokenBudgetSelect(spark, sfDir).collect().toSet
    for (parts <- Seq("1", "7")) {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts)
      val got = Sampling.tokenBudgetSelect(s, sfDir).collect().toSet
      assert(got == base, s"parts=$parts differs")
    }
  }

  test("domain cap keeps at most N per source, preferring longer docs") {
    val got = Sampling.domainCap(spark, sfDir).cache()
    val perSource = got.groupBy("source").count().collect()
    assert(perSource.nonEmpty && perSource.forall(_.getLong(1) <= 15))
    // kept docs dominate the dropped ones: for every source the shortest
    // kept doc is at least as long as the longest dropped doc
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "n_chars")
    val dropped = docs.join(got.select("doc_id"), Seq("doc_id"), "left_anti")
    val minKept = got.groupBy("source").agg(min("n_chars").as("min_kept"))
    val maxDrop = dropped.groupBy("source").agg(max("n_chars").as("max_drop"))
    val bad = minKept.join(maxDrop, "source")
      .filter(col("min_kept") < col("max_drop")).collect()
    assert(bad.isEmpty, bad.take(3).mkString(", "))
  }

  test("domain cap pushes the rank filter below the shuffle (WindowGroupLimit)") {
    // Spark 3.5+ turns rank<=N into a per-mapper partial group limit, so a
    // corpus-scale hot source never funnels its full row count through one
    // window task — the plan must carry the operator in Partial AND Final
    // mode (losing it silently would reintroduce the hot-group funnel)
    val plan = Sampling.domainCap(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("Partial") && plan.contains("Final"), plan)
  }

  test("pack sequences tiles the doc_id-ordered token stream exactly") {
    val got = Sampling.packSequences(spark, sfDir)
      .orderBy("doc_id").collect()
    assert(got.nonEmpty)
    // replay the stream on the driver: each doc starts where the previous
    // one ended, pack_id/pack_offset are that position divided by the
    // 512-token window
    var cum = 0L
    got.foreach { r =>
      val (tok, pid, off) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(pid == cum / 512 && off == cum % 512, s"doc ${r.getLong(0)}: $r at cum=$cum")
      cum += tok
    }
    // multiple packs actually produced, none skipped
    val pids = got.map(_.getLong(2)).distinct.sorted
    assert(pids.length > 1 && pids.head == 0L)
  }

  test("pack sequences is invariant to the partition count") {
    val base = Sampling.packSequences(spark, sfDir).collect().toSet
    for (parts <- Seq("1", "7")) {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", parts)
      val got = Sampling.packSequences(s, sfDir).collect().toSet
      assert(got == base, s"parts=$parts differs")
    }
  }

  test("weighted sample matches a driver-side A-ES model and biases toward length") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def u(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"ws1:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) / 4294967296.0
    }
    val keyed = docs.map { case (id, src, nc) =>
      (id, src, nc, math.log(u(id)) / nc)
    }
    val want = keyed.sortBy { case (id, _, _, k) => (-k, id) }.take(50)
      .map { case (id, src, nc, k) =>
        (id, src, nc, BigDecimal(k).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy(_._1).toSeq
    val got = Sampling.weightedSample(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want)
    // inclusion is length-biased: the sampled mean length exceeds the
    // corpus mean (P(include) ∝ n_chars up to the uniform draw)
    val sampleMean = got.map(_._3).sum.toDouble / got.size
    val corpusMean = docs.map(_._3).sum.toDouble / docs.length
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("epoch mix plan: shares sum to 1, targets fill the budget, weights bias epochs") {
    val rows = Sampling.epochMixPlan(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val shares = rows.map(_.getAs[Double]("mix_share"))
    assert(math.abs(shares.sum - 1.0) < 1e-4, s"shares sum to ${shares.sum}")
    // floor() per language can undershoot the budget by at most n_langs tokens
    val targets = rows.map(_.getAs[Long]("target_tokens"))
    assert(targets.sum <= 1000000L && targets.sum >= 1000000L - rows.length)
    // the ×2 weight means every non-en language runs proportionally more
    // epochs than en relative to its token mass: epochs ratio == weight ratio
    val byLang = rows.map(r => r.getAs[String]("lang") ->
      (r.getAs[Double]("epochs"), r.getAs[Long]("tokens"))).toMap
    val (enE, enT) = byLang("en")
    byLang.foreach { case (lang, (e, _)) =>
      if (lang != "en")
        assert(math.abs(e / enE - 2.0) < 0.01,
          s"$lang epochs/en epochs = ${e / enE}, want ~2 (tokens cancel: $enT)")
    }
  }

  test("temperature mix: shares sum to 1, boost compresses toward uniform") {
    val rows = Sampling.temperatureMix(spark, sfDir).collect()
    assert(rows.length >= 2, "multilingual corpus")
    val raw = rows.map(_.getAs[Double]("p_raw"))
    val temp = rows.map(_.getAs[Double]("p_temp"))
    assert(math.abs(raw.sum - 1.0) < 1e-4 && math.abs(temp.sum - 1.0) < 1e-4)
    // α < 1 compresses: token-rank and tempered-share rank agree (pow is
    // monotone), but the spread shrinks — max/min of p_temp is strictly
    // inside max/min of p_raw on any non-uniform corpus
    val byTokens = rows.sortBy(_.getAs[Long]("tokens"))
    assert(byTokens.map(_.getAs[Double]("p_temp")).toSeq ==
      temp.sorted.toSeq, "pow(·, 0.3) preserves the token ordering")
    assert(temp.max / temp.min < raw.max / raw.min,
      "temperature compresses the share spread")
    // boost = p_temp/p_raw is anti-monotone in size: the smallest language
    // gets the largest upsampling factor, the largest the smallest
    val boosts = byTokens.map(_.getAs[Double]("boost"))
    assert(boosts.head == boosts.max && boosts.last == boosts.min)
    assert(boosts.last < 1.0 && boosts.head > 1.0,
      "largest language is subsampled, smallest upsampled")
  }

  test("curriculum bands partition the corpus monotonically by length") {
    val cur = Sampling.curriculumOrder(spark, sfDir).cache()
    assert(cur.count() == graft.Tables.documents(spark, sfDir).count())
    // band(x) is the count of decile thresholds strictly below x, so a
    // higher band can never hold a shorter doc than a lower band's longest
    val spans = cur.groupBy("band")
      .agg(min("n_chars").as("mn"), max("n_chars").as("mx"))
      .orderBy("band").collect()
    spans.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getAs[Long]("mx") <= hi.getAs[Long]("mn"),
          s"band ${lo.getAs[Long]("band")} overlaps ${hi.getAs[Long]("band")}")
      case _ =>
    }
    assert(cur.filter(col("band") < 0 || col("band") > 9).isEmpty)
    // decile thresholds over a spread length distribution: most bands exist
    assert(spans.length >= 5)
    cur.unpersist()
  }

  test("neyman allocation: sums to budget, tracks N·sigma ordering") {
    val a = Sampling.neymanAllocation(spark, sfDir).collect()
    assert(a.map(_.getAs[Long]("n_alloc")).sum == 1000L)
    assert(math.abs(a.map(_.getAs[Double]("share")).sum - 1.0) <
      a.length * 5e-7 + 1e-9)
    // every allocation is within 1 draw of its exact (unrounded) share
    val tot = a.map(r => r.getAs[Long]("n_rows") * r.getAs[Double]("sigma")).sum
    a.foreach { r =>
      val exact = r.getAs[Long]("n_rows") * r.getAs[Double]("sigma") / tot * 1000
      assert(math.abs(r.getAs[Long]("n_alloc") - exact) <= 1.0 + 1e-6,
        s"${r.getString(0)}: alloc ${r.getAs[Long]("n_alloc")} exact $exact")
    }
  }
}
