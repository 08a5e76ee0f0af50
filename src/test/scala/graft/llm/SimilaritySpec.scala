package graft.llm

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.functions.CosineSimilarity

class SimilaritySpec extends SparkSpec {

  test("native CosineSimilarity equals the HOF formulation bit-for-bit") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sfDir).limit(50)
    val a = e.select(col("vec_id").as("qa"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("qb"), col("embedding").as("eb"))
    val pairs = a.crossJoin(b).filter(col("qa") < col("qb"))
    val hofDot = aggregate(
      zip_with(col("ea"), col("eb"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    def n2(c: org.apache.spark.sql.Column) = aggregate(
      transform(c, x => x.cast("double") * x.cast("double")), lit(0.0), (acc, v) => acc + v)
    val cmp = pairs.select(
      expr("cosine_similarity(ea, eb)").as("native"),
      (hofDot / (sqrt(n2(col("ea"))) * sqrt(n2(col("eb"))))).as("hof"))
    // bit-for-bit: both run the same ascending-order double fold
    assert(cmp.filter(col("native") =!= col("hof")).isEmpty)
  }

  test("cosine: mismatched lengths yield NULL, matching DotProduct and the zip_with fold") {
    import spark.implicits._
    CosineSimilarity.register(spark)
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0)), // longer left
      (2L, Seq(1.0), Seq(4.0, 5.0)), // longer right
      (3L, Seq(1.0, 2.0), Seq(4.0, 5.0))) // equal → defined
      .toDF("id", "a", "b")
    val byId = df.select(col("id"), expr("cosine_similarity(a, b)").as("sim"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(byId(1L) && byId(2L) && !byId(3L),
      "length mismatch must be NULL on both eval and codegen paths")
  }

  test("double and mixed float/double inputs equal the HOF formulation bit-for-bit") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sfDir).limit(30)
    val a = e.select(col("vec_id").as("qa"), col("embedding").as("fa"),
      col("embedding").cast("array<double>").as("da"))
    val b = e.select(col("vec_id").as("qb"), col("embedding").as("fb"),
      col("embedding").cast("array<double>").as("db"))
    val pairs = a.crossJoin(b).filter(col("qa") < col("qb"))
    val hofDot = aggregate(
      zip_with(col("da"), col("db"), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    def n2(c: org.apache.spark.sql.Column) = aggregate(
      transform(c, x => x * x), lit(0.0), (acc, v) => acc + v)
    val hof = hofDot / (sqrt(n2(col("da"))) * sqrt(n2(col("db"))))
    val cmp = pairs.select(
      expr("cosine_similarity(da, db)").as("dd"),
      expr("cosine_similarity(fa, db)").as("fd"),
      expr("cosine_similarity(da, fb)").as("df"),
      expr("cosine_similarity(fa, fb)").as("ff"),
      hof.as("hof"))
    // per-element exact float→double widening makes all four bit-identical
    assert(cmp.filter(col("dd") =!= col("hof") || col("fd") =!= col("hof")
      || col("df") =!= col("hof") || col("ff") =!= col("hof")).isEmpty)
  }

  test("a null array element yields NULL similarity (eval + codegen paths)") {
    CosineSimilarity.register(spark)
    import spark.implicits._
    val df = Seq(
      (1L, Seq[Option[Double]](Some(1.0), None, Some(2.0)), Seq[Option[Double]](Some(1.0), Some(1.0), Some(1.0))),
      (2L, Seq[Option[Double]](Some(1.0), Some(2.0), Some(3.0)), Seq[Option[Double]](Some(1.0), Some(1.0), Some(1.0))))
      .toDF("id", "x", "y")
    val out = df.select(col("id"), expr("cosine_similarity(x, y)").as("s"))
    val rows = out.orderBy("id").collect()
    assert(rows(0).isNullAt(1), rows.mkString(","))
    assert(!rows(1).isNullAt(1) && math.abs(rows(1).getDouble(1) - 6.0 / (math.sqrt(14) * math.sqrt(3))) < 1e-12)
  }

  test("cosine of a vector with itself is 1") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sfDir).limit(20)
    val selfSim = e.select(expr("cosine_similarity(embedding, embedding)").as("s"))
    assert(selfSim.filter(abs(col("s") - 1.0) > 1e-12).isEmpty)
  }

  test("brute-force topk ranks are dense 1..10 per query") {
    val tk = Similarity.embeddingTopk(spark, sfDir).cache()
    val perQ = tk.groupBy("q_id").agg(count(lit(1)).as("n"),
      min("rank").as("lo"), max("rank").as("hi"))
    assert(perQ.filter(col("n") =!= 10 || col("lo") =!= 1 || col("hi") =!= 10).isEmpty)
  }

  test("lsh dedup finds synthetic near-identical pairs at the 0.95 threshold") {
    import spark.implicits._
    // doc 2 = doc 1 + a tiny perturbation (cosine > 0.999); docs 10-19 are
    // deterministic pseudo-random directions, pairwise far from collinear
    val base = (0 until 64).map(d => math.sin(d + 1.0))
    val near = base.zipWithIndex.map { case (v, d) => v + (if (d == 0) 0.01 else 0.0) }
    val far = (10L to 19L).map { i =>
      (i, (0 until 64).map(d => math.cos(3.0 * i + 7.0 * d)))
    }
    val e = (Seq((1L, base), (2L, near)) ++ far).toDF("vec_id", "ed")
    val out = Similarity.embeddingLshDedupFrom(e).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((1L, 2L)), pairs.mkString(","))
    // each emitted pair appears once (multi-table collisions deduped) and
    // really clears the threshold
    assert(pairs.distinct == pairs)
    assert(out.forall(_.getDouble(2) >= 0.95))
  }

  test("lsh dedup registered entry is empty on this corpus (max pair cosine ~0.51)") {
    assert(Similarity.embeddingLshDedup(spark, sfDir).isEmpty)
  }

  test("wide lsh geometry finds the synthetic near-pair and stays empty on the corpus") {
    import spark.implicits._
    // same recall path as the 8×6 test, under the 12×8 scale geometry
    // (bound 0.9987 at cosine 0.95 — stronger than the default's 0.9975)
    val base = (0 until 64).map(d => math.sin(d + 1.0))
    val near = base.zipWithIndex.map { case (v, d) => v + (if (d == 0) 0.01 else 0.0) }
    val far = (10L to 19L).map { i =>
      (i, (0 until 64).map(d => math.cos(3.0 * i + 7.0 * d)))
    }
    val e = (Seq((1L, base), (2L, near)) ++ far).toDF("vec_id", "ed")
    val out = Similarity.embeddingLshDedupWideFrom(e).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((1L, 2L)), pairs.mkString(","))
    assert(pairs.distinct == pairs)
    assert(out.forall(_.getDouble(2) >= 0.95))
    assert(Similarity.embeddingLshDedupWide(spark, sfDir).isEmpty)
  }

  test("corpus invariant: no embedding pair reaches the 0.95 dedup threshold") {
    // embedding_lsh_dedup's oracle is the exact all-pairs formulation while
    // the engine path is probabilistic multi-table LSH (recall ≈ 0.9975 at
    // cosine exactly 0.95); they are hash-equal only while the corpus has
    // no pair at the threshold, which makes both sides empty by
    // construction. Pin that invariant on the ORACLE-GATE corpus (sf0.01,
    // what the driver verifies against) so a testdata regeneration that
    // introduces a genuine near-dup fails loudly here instead of
    // intermittently (~0.25% per pair) at the oracle compare.
    CosineSimilarity.register(spark)
    val e = spark.read.parquet(s"${graft.SparkSpec.gateDir}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val maxCos = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .agg(max(expr("cosine_similarity(a.embedding, b.embedding)")))
      .head.getDouble(0)
    assert(maxCos < 0.95,
      f"corpus grew a near-dup pair (max all-pairs cosine $maxCos%.4f); " +
        "embedding_lsh_dedup's all-pairs oracle is no longer LSH-recall-safe")
  }

  test("IVF: k-means training moves centroids off their first-K seeds") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("ed", col("embedding").cast("array<double>"))
      .select("vec_id", "ed")
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("ed").as("ced"))
    val trained = Similarity.trainCentroidsK(e, Similarity.IvfK)
    // joined on cent_id: at least one surviving cell's centroid must differ
    // from its seed vector (identical would mean training is a no-op)
    val joined = trained.as("t").join(seeds.as("s"), "cent_id")
      .filter(col("t.ced") =!= col("s.ced"))
    assert(joined.count() > 0)
  }

  test("IVF recall vs brute-force top-3 on the probed query set") {
    // the registered entry probes only 5 queries (15 truth pairs — too
    // small to resolve recall above chance); sanity-pin it, then measure
    // on a 50-query set via the shared search kernel below
    val ivf = Similarity.embeddingAnnIvf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = Similarity.embeddingKnnNative(spark, sfDir)
      .filter(col("q_id") >= 100 && col("q_id") < 105)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bf.size == 15)
    val recall = (ivf & bf).size.toDouble / bf.size
    info(f"entry ivf recall@3=$recall%.3f over ${bf.size} truth pairs")
    assert(recall > 0.25, s"recall $recall (ivf=${ivf.size}, bf=${bf.size})")
  }

  test("IVF trained probes beat matched random probes on the natural corpus") {
    // This corpus is near-uniform random — the hardest case for ANN (true
    // neighbors are barely closer than random points), so ABSOLUTE recall
    // is structurally low and a floor near nprobe/K = 2/8 = 0.25 asserts
    // nothing ("probing 25% of a structureless corpus finds ~25% of
    // neighbors"). The meaningful statement is RELATIVE: with the SAME
    // probe budget (2 of 8 cells), the trained quantizer's
    // nearest-centroid probes must recover strictly more true neighbors
    // than deterministic arbitrary cells — i.e. centroid ranking carries
    // signal above probed mass. Everything here is deterministic (fixed
    // corpus, seeded k-means, hash-free probe choice), so the comparison
    // is exact, not flaky. 50 queries × 3 = 150 truth pairs.
    CosineSimilarity.register(spark)
    val (qLo, qHi) = (100L, 150L)
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("ed", col("embedding").cast("array<double>"))
      .select("vec_id", "ed").cache()
    val cents = spark.createDataFrame(
      Similarity.ivfModel(e, Similarity.IvfK)).toDF("cent_id", "ced")
    // brute-force truth for the 50 queries
    val q = e.filter(col("vec_id") >= qLo && col("vec_id") < qHi)
      .select(col("vec_id").as("q_id"), col("ed").as("qed"))
    val truth = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        round(expr("cosine_similarity(qed, ed)"), 6).as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))))
      .filter(col("rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size == 3 * (qHi - qLo))
    // trained probes: the production search kernel
    val trained = Similarity.ivfSearchFrom(e, cents, qLo, qHi).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // random probes: same budget (2 distinct cells), chosen by the query
    // id alone — blind to the centroids, so exactly "probed mass"
    val assign = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("ed"), col("cent_id"),
        round(expr("cosine_similarity(ed, ced)"), 6).as("csim"))
      .groupBy("vec_id")
      .agg(first(col("ed")).as("ed"),
        max_by(col("cent_id"), struct(col("csim"), (-col("cent_id")).as("nc")))
          .as("cell"))
    val randProbes = q
      .withColumn("cell", explode(array(col("q_id") % 8, (col("q_id") + 3) % 8)))
    val rand = randProbes
      .join(assign, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        round(expr("cosine_similarity(qed, ed)"), 6).as("sim"))
      .dropDuplicates("q_id", "c_id")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))))
      .filter(col("rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val trainedRecall = (trained & truth).size.toDouble / truth.size
    val randRecall = (rand & truth).size.toDouble / truth.size
    info(f"trained recall@3=$trainedRecall%.3f vs random-probe $randRecall%.3f over ${truth.size} pairs")
    assert(trainedRecall > randRecall,
      f"trained probes ($trainedRecall%.3f) do not beat random probes ($randRecall%.3f)")
    // and the trained floor must clear probed-mass chance with a real
    // margin: measured 0.473 vs 0.273 random on this corpus — pinned at
    // 0.40 (well above the chance band, se ≈ 0.037 at 150 pairs, yet
    // under the measured value) so a quantizer regression to chance
    // fails loudly while testdata-regeneration drift does not
    assert(trainedRecall > 0.40, f"trained recall $trainedRecall%.3f at/below chance band")
  }

  test("IVF recall >= 0.8 at k=3 on a planted-neighbor fixture") {
    // The corpus-floor test above can only assert the chance baseline
    // because the driver corpus is near-uniform random. This fixture
    // plants real cluster structure — 8 well-separated directions
    // (disjoint 8-coordinate support blocks in 64 dims), 10 members each
    // with a small deterministic perturbation — so ground-truth top-3
    // neighbors are the query's own cluster and a working IVF quantizer
    // must recover them. Ids interleave clusters (vec_id = i*8 + c) so
    // the first-K training seeds land one per cluster.
    import spark.implicits._
    CosineSimilarity.register(spark)
    val vecs = for (c <- 0 until 8; i <- 0 until 10) yield {
      val id = i.toLong * 8 + c
      val ed = (0 until 64).map { d =>
        val block = if (d >= c * 8 && d < (c + 1) * 8) 1.0 else 0.0
        block + 0.02 * math.cos(1.7 * id + 0.31 * d)
      }
      (id, ed)
    }
    val e = vecs.toDF("vec_id", "ed").cache()
    val cents = Similarity.trainCentroidsK(e, Similarity.IvfK)
    // queries = ids 0..7, one per cluster
    val ivf = Similarity.ivfSearchFrom(e, cents, 0L, 8L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = e.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("ed").as("qed"))
    val truth = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        expr("cosine_similarity(qed, ed)").as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))))
      .filter(col("rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size == 24)
    val recall = (ivf & truth).size.toDouble / truth.size
    info(f"planted-fixture ivf recall@3=$recall%.3f")
    assert(recall >= 0.8, s"planted recall $recall under 0.8 (ivf=${ivf.size})")
  }

  test("PQ: codes in range, all subspaces coded, training reduces total distortion") {
    import spark.implicits._
    val out = Similarity.embeddingPq(spark, sfDir).cache()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.count() == n)
    // every vector carries all 4 codes, each within the codebook domain
    for (c <- Seq("c0", "c1", "c2", "c3"))
      assert(out.filter(col(c).isNull || col(c) < 0 || col(c) >= 4).isEmpty, c)
    assert(out.filter(col("recon").isNull || col("recon") < 0).isEmpty)
    // Lloyd training must beat the untrained seed codebooks (first-K
    // subvectors) on total distortion — the assignment step alone gives
    // parity, the mean step is what must buy improvement
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("ed", col("embedding").cast("array<double>"))
      .select("vec_id", "ed")
    val seedRecon = Similarity.pqEncodeWith(e,
        Similarity.seedPqCodebooks(e))
      .agg(sum(col("recon"))).head.getDouble(0)
    val trainedRecon = out.agg(sum(col("recon"))).head.getDouble(0)
    info(f"pq distortion: trained=$trainedRecon%.1f seed=$seedRecon%.1f")
    assert(trainedRecon < seedRecon,
      f"training did not reduce distortion ($trainedRecon%.1f >= $seedRecon%.1f)")
  }

  test("ADC search recovers planted-cluster neighbors from codes alone") {
    // the IVF planted fixture (8 disjoint-support clusters, 10 members
    // each): ADC reads ONLY the 4 codes per candidate, so this pins that
    // the quantized representation retains the cluster geometry — every
    // top-3 ADC neighbor of a cluster's query should be a member of the
    // same cluster
    import spark.implicits._
    val vecs = for (c <- 0 until 8; i <- 0 until 10) yield {
      val id = i.toLong * 8 + c
      val ed = (0 until 64).map { d =>
        val block = if (d >= c * 8 && d < (c + 1) * 8) 1.0 else 0.0
        block + 0.02 * math.cos(1.7 * id + 0.31 * d)
      }
      (id, ed)
    }
    val e = vecs.toDF("vec_id", "ed").cache()
    val cents = Similarity.trainPqCodebooks(e)
    val adc = Similarity.adcSearchFrom(e, cents, 0L, 8L).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(adc.length == 24) // 8 queries × top-3
    val sameCluster = adc.count { case (q, c) => c % 8 == q % 8 }
    val precision = sameCluster.toDouble / adc.length
    info(f"adc planted-cluster precision@3=$precision%.3f")
    assert(precision >= 0.8, f"adc precision $precision%.3f under 0.8")
  }

  test("IVF-ADC recovers planted-cluster neighbors through both pruning and code scoring") {
    // the composed pipeline has two places to lose a neighbor: the probe
    // can miss its cell, or the code distance can misrank it — the
    // fixture pins that NEITHER does on separable structure
    import spark.implicits._
    CosineSimilarity.register(spark)
    val vecs = for (c <- 0 until 8; i <- 0 until 10) yield {
      val id = i.toLong * 8 + c
      val ed = (0 until 64).map { d =>
        val block = if (d >= c * 8 && d < (c + 1) * 8) 1.0 else 0.0
        block + 0.02 * math.cos(1.7 * id + 0.31 * d)
      }
      (id, ed)
    }
    val e = vecs.toDF("vec_id", "ed").cache()
    val ivfCents = Similarity.trainCentroidsK(e, Similarity.IvfK)
    val pqCents = Similarity.trainPqCodebooks(e)
    val cand = Similarity.ivfCandidatesFrom(e, ivfCents, 0L, 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every query's candidate set must contain its 9 cluster mates
    for (q <- 0L until 8L) {
      val mates = (1 to 9).map(i => i.toLong * 8 + q).toSet
      assert(mates.subsetOf(cand.collect { case (`q`, c) => c }.toSet),
        s"query $q's probes missed cluster mates")
    }
    // and the ADC ranking keeps the cluster on top
    val adc = Similarity.adcSearchFrom(e, pqCents, 0L, 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val precision = adc.count { case (q, c) => c % 8 == q % 8 }.toDouble / adc.length
    assert(precision >= 0.8, f"ivfadc fixture precision $precision%.3f")
  }

  test("int8 quantization: reconstruction error under one step, top-k preserved") {
    CosineSimilarity.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("ed", col("embedding").cast("array<double>"))
    val mn = array_min(col("ed"))
    val mx = array_max(col("ed"))
    val step = (mx - mn) / lit(255.0)
    val codes = transform(col("ed"), x =>
      when(mx === mn, lit(0))
        .otherwise(floor((x - mn) * lit(255.0) / (mx - mn)).cast("int")))
    // midpoint dequantization: x̂ = mn + (code + 0.5)·step
    val deq = e.select(col("vec_id"), col("ed"), step.as("step"),
        transform(codes, c => mn + (c.cast("double") + lit(0.5)) * step).as("dq"))
      .cache()
    // per-element |x - x̂| < one step (0.5 step nominally; boundary fp
    // jitter can push a code one bucket over, still strictly under 1)
    val worst = deq.select(
      (aggregate(zip_with(col("ed"), col("dq"), (a, b) => abs(a - b)),
        lit(0.0), (acc, v) => greatest(acc, v)) / col("step")).as("err_steps"))
      .agg(max(col("err_steps"))).head.getDouble(0)
    assert(worst < 1.0, s"max reconstruction error $worst steps")
    // ANN on quantized storage: full-precision queries against
    // dequantized candidates must keep most of the exact top-10
    val exact = Similarity.embeddingTopk(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("ed").as("qed"))
    val dqTopk = deq.select(col("vec_id").as("c_id"), col("dq"))
      .crossJoin(broadcast(queries))
      .filter(col("c_id") =!= col("q_id"))
      .select(col("q_id"), col("c_id"),
        expr("cosine_similarity(qed, dq)").as("sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))))
      .filter(col("rank") <= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (exact & dqTopk).size.toDouble / exact.size
    info(f"quantized top-10 overlap=$overlap%.3f")
    assert(overlap >= 0.8, s"overlap $overlap under 0.8 floor")
  }

  test("LSH ANN recall@1 vs brute-force nearest neighbor stays above its floor") {
    val ann = Similarity.embeddingAnnLsh(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = Similarity.embeddingKnnNative(spark, sfDir)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = exact.size
    val hits = exact.count { case (q, nn) => ann.get(q).contains(nn) }
    val recall = hits.toDouble / n
    val coverage = ann.size.toDouble / n
    info(f"lsh recall@1=$recall%.3f coverage=$coverage%.3f n=$n")
    // Floors are MEASURED on this corpus (see SCALE.md): near-uniform
    // random unit vectors are ANN's hardest case — the true NN's angle is
    // barely under random, so P(NN shares all 8 plane signs) is small by
    // construction. The value of the pin is the regression direction: a
    // parameter or bucketing change that guts recall (more planes, a
    // broken sign expression) or strands most vectors without bucket-mates
    // fails here instead of shipping silently. Chance baseline for
    // recall@1 is 1/499 ≈ 0.002; measured 0.022 (11× chance) with
    // coverage 0.876 — floors sit at half the measured values.
    assert(recall >= 0.01, s"recall@1 $recall under floor 0.01 (measured 0.022)")
    assert(coverage >= 0.7, s"coverage $coverage under floor 0.7 (measured 0.876)")
  }

  test("ANN neighbors share the query's LSH bucket and are true cosine maxima in-bucket") {
    val ann = Similarity.embeddingAnnLsh(spark, sfDir).cache()
    // one neighbor per query, neighbor differs from query
    assert(ann.groupBy("q_id").count().filter(col("count") =!= 1).isEmpty)
    assert(ann.filter(col("q_id") === col("c_id")).isEmpty)
  }

  test("persisted-index searches return exactly the inline results") {
    // lifecycle must never change the math: the build-then-read entries
    // and their inline (retrain-per-query) twins share oracle SQL, so
    // they must be row-identical
    val ivfInline = Similarity.embeddingAnnIvf(spark, sfDir)
    val ivfIndexed = Similarity.ivfIndexSearch(spark, sfDir)
    assert(ivfIndexed.except(ivfInline).isEmpty && ivfInline.except(ivfIndexed).isEmpty)
    val lshInline = Similarity.embeddingAnnLsh(spark, sfDir)
    val lshIndexed = Similarity.lshIndexSearch(spark, sfDir)
    assert(lshIndexed.except(lshInline).isEmpty && lshInline.except(lshIndexed).isEmpty)
  }

  test("lsh index search: the bucket self-join over the bucketed table is exchange-free") {
    val df = Similarity.lshIndexSearch(spark, sfDir)
    df.collect() // finalize AQE
    val full = df.queryExecution.executedPlan.toString
    val finalPlan = full.indexOf("== Initial Plan ==") match {
      case -1 => full
      case i => full.substring(0, i)
    }
    // the join's two inputs are the same table bucketed on the join key:
    // no hash exchange may feed the join (the window/orderBy may shuffle
    // AFTER it — assert no exchange between the scans and the join by
    // requiring zero hash exchanges on `bucket`)
    assert(!finalPlan.contains("Exchange hashpartitioning(bucket"),
      s"bucket self-join must read co-located buckets, not reshuffle:\n${finalPlan.take(3000)}")
  }

  test("embedding centroids match a driver model on every (label, dim)") {
    val got = Similarity.embeddingCentroids(spark, sfDir).cache()
    val vecs = Tables.embeddings(spark, sfDir).select("label", "embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
    val dims = vecs.head._2.length
    val labels = vecs.map(_._1).distinct.length
    assert(got.count() == labels.toLong * dims)
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = vecs.groupBy(_._1).flatMap { case (l, g) =>
      (0 until dims).map { d =>
        // same discipline as the operator: round each component to 6dp
        // (exact decimals), sum exactly, then round the mean
        val comps = g.map(v => BigDecimal(r6(v._2(d).toDouble)))
        // mirror the operator: exact decimal sum, then DOUBLE division
        (l, d.toLong) -> r6(comps.sum.toDouble / g.length)
      }
    }
    got.collect().foreach { r =>
      val k = (r.getInt(0), r.getLong(1))
      assert(math.abs(r.getDouble(3) - want(k)) < 1e-9, s"$k")
    }
    got.unpersist()
  }

  test("dim stats cover every dimension with coherent moments and bounds") {
    val st = Similarity.embeddingDimStats(spark, sfDir).cache()
    val nVecs = graft.Tables.embeddings(spark, sfDir).count()
    val dims = graft.Tables.embeddings(spark, sfDir)
      .select(size(col("embedding")).as("d")).agg(max("d")).head().getInt(0)
    assert(st.count() == dims)
    val bad = st.filter(col("n_vecs") =!= nVecs ||
      col("std") < 0 || col("mean") < col("min_v") - lit(1e-9) ||
      col("mean") > col("max_v") + lit(1e-9) || col("min_v") > col("max_v"))
    assert(bad.isEmpty)
    st.unpersist()
  }

  test("norm audit matches driver-side in-order folds and partitions the corpus") {
    val audit = Similarity.embeddingNormAudit(spark, sfDir).collect()
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select("embedding").collect()
      .map(_.getSeq[Float](0))
    // identical fold: left-to-right double accumulation, one 6dp round
    val norms = vecs.map { v =>
      val ss = v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
      BigDecimal(math.sqrt(ss)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val wantBuckets = norms.groupBy(n => math.floor(n / 0.1).toLong)
      .map { case (b, ns) => b -> (ns.length.toLong, ns.min, ns.max) }
    assert(audit.map(_.getAs[Long]("n_vecs")).sum == vecs.length)
    assert(audit.map(_.getAs[Long]("bucket")).toSet == wantBuckets.keySet)
    audit.foreach { r =>
      val (n, mn, mx) = wantBuckets(r.getAs[Long]("bucket"))
      assert(r.getAs[Long]("n_vecs") == n)
      assert(math.abs(r.getAs[Double]("min_norm") - mn) < 1e-9)
      assert(math.abs(r.getAs[Double]("max_norm") - mx) < 1e-9)
      assert(r.getAs[Long]("n_unit") <= r.getAs[Long]("n_vecs"))
    }
  }

  test("knn label vote: totals reconcile, accuracy bounded, vote matches knn top-5") {
    val rep = Similarity.knnLabelVote(spark, sfDir).cache()
    val nVecs = graft.Tables.embeddings(spark, sfDir).count()
    assert(rep.agg(sum("n_vectors")).head().getLong(0) == nVecs)
    assert(rep.filter(col("n_correct") > col("n_vectors") ||
      col("accuracy") < 0 || col("accuracy") > 1).isEmpty)
    // drive the kernel's per-query prediction stage against a full
    // driver-side model on 10 query ids: exact 5-NN (rounded cosine,
    // c_id tie-break) → vote → (most votes, smallest label) argmax
    val e = graft.Tables.embeddings(spark, sfDir)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val probeIds = e.map(_._1).sorted.take(10).toSet
    val wantPred = probeIds.map { q =>
      val qv = e.find(_._1 == q).get._2
      val top5 = e.filter(_._1 != q)
        .map { case (id, v, lbl) => (cos(qv, v), id, lbl) }
        .sortBy { case (s, id, _) => (-s, id) }.take(5)
      val votes = top5.groupBy(_._3).map { case (l, xs) => (l, xs.size) }
      q -> votes.toSeq.sortBy { case (l, n) => (-n, l) }.head._1
    }.toMap
    val gotPred = Similarity.knnPredictions(spark, sfDir)
      .filter(col("q_id").isin(probeIds.toSeq: _*))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotPred == wantPred)
    rep.unpersist()
  }

  test("embedding outliers: flagged vectors match a driver-side z replay") {
    val got = Similarity.embeddingOutliers(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Double]("max_absz"), r.getAs[Long]("n_extreme_dims"))).toMap
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val dims = vecs.head._2.length
    // 6dp-rounded components, exact moments, 6dp-rounded mean/std — the
    // kernel's declared arithmetic, replayed in BigDecimal
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val byDim = (0 until dims).map { p =>
      val xs = vecs.map(v => r6(v._2(p).toDouble))
      val n = xs.length
      val sx = xs.sum; val sxx = xs.map(x => x * x).sum
      val mean = r6(sx.toDouble / n).toDouble
      val std = r6(math.sqrt((sxx.toDouble - sx.toDouble * sx.toDouble / n) / (n - 1))).toDouble
      (mean, std)
    }
    val want = vecs.flatMap { case (id, emb) =>
      val zs = (0 until dims).map { p =>
        math.abs((r6(emb(p).toDouble).toDouble - byDim(p)._1) / byDim(p)._2)
      }
      val mz = BigDecimal(zs.max).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (mz >= 3.0) Some(id -> (mz, zs.count(_ > 3.0).toLong)) else None
    }.toMap
    assert(got == want,
      s"got-only=${(got.keySet -- want.keySet).take(3)} want-only=${(want.keySet -- got.keySet).take(3)}")
  }

  test("PQ plans run on the native L2 kernel (no interpreted HOF fold in the hot path)") {
    // the encode path's optimized plan must carry squared_l2, not
    // aggregate(zip_with(...)) — the r19 HOF finding made interpreted
    // lambdas a regression class, so pin the spelling structurally
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("ed", col("embedding").cast("array<double>"))
      .select("vec_id", "ed")
    val cents = Similarity.trainPqCodebooks(e)
    val plan = Similarity.pqCodesLong(e, cents)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("squared_l2"), "encode must ride the native kernel")
    assert(!plan.contains("zip_with"), "no interpreted HOF fold may remain")
  }

  /** Planted-cluster fixture for the semantic-dedup family: the IVF
    * spec's 8 disjoint-support clusters (ids interleaved so the first-K
    * training seeds land one per cluster), plus vector 1000 — a
    * block0/block1 mix whose exact cosine against cluster-0 members
    * clears the 0.45 threshold (≈ 0.51) but whose argmax cell is
    * cluster 1: the cross-cell true pair the cell restriction MUST
    * miss, proving the recall trade is real and measured. */
  private def semanticFixture = {
    import spark.implicits._
    val clustered = for (c <- 0 until 8; i <- 0 until 10) yield {
      val id = i.toLong * 8 + c
      val ed = (0 until 64).map { d =>
        val block = if (d >= c * 8 && d < (c + 1) * 8) 1.0 else 0.0
        block + 0.02 * math.cos(1.7 * id + 0.31 * d)
      }
      (id, ed)
    }
    val mixed = (1000L, (0 until 64).map { d =>
      if (d < 8) 0.6 else if (d < 16) 1.0 else 0.0
    }.map(_.toDouble))
    (clustered :+ mixed).toDF("vec_id", "ed").cache()
  }

  test("semantic dedup finds within-cell pairs and misses the planted cross-cell pair") {
    CosineSimilarity.register(spark)
    val e = semanticFixture
    val assign = Similarity.semanticAssignWith(e, Similarity.trainCentroidsK(e, Similarity.IvfK)
      .select(col("cent_id"), col("ced")))
    val out = Similarity.semanticPairsFrom(assign).collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    // ids 0 and 8 are both cluster 0 (near-identical, cosine ≈ 1)
    assert(pairs.contains((0L, 8L)), s"within-cell pair missing: ${pairs.take(5)}")
    // the planted mix is a TRUE pair against id 0 (exact cosine ≥ 0.45)…
    val exact = e.as("a").join(e.as("b"),
        col("a.vec_id") === 0L && col("b.vec_id") === 1000L)
      .select(expr("cosine_similarity(a.ed, b.ed)"))
      .head().getDouble(0)
    assert(exact >= 0.45 && exact <= 0.6, s"fixture drifted: cosine(0,1000)=$exact")
    // …but lands in cluster 1's cell, so the cell restriction misses it
    val cells = assign.filter(col("vec_id").isin(0L, 1000L, 1L))
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells(1000L) == cells(1L) && cells(1000L) != cells(0L),
      s"mix vector not in cluster 1's cell: $cells")
    assert(!pairs.contains((0L, 1000L)),
      "cross-cell pair must be excluded from the candidate set")
    // hygiene: ordered, unique, threshold respected
    assert(pairs.forall { case (a, b) => a < b })
    assert(out.map(r => (r.getLong(0), r.getLong(1))).distinct.length == out.length)
    assert(out.forall(_.getDouble(3) >= 0.45))
  }

  test("semantic dedup corpus entries: pairs ⊆ exact truth, recall row consistent, apply keeps one per component") {
    // every semantic pair is a true pair at the same threshold (the cell
    // restriction only PRUNES; confirmation is exact)
    val sem = Similarity.semanticDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Similarity.embeddingCosineDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.nonEmpty, "fixture corpus should produce within-cell pairs")
    assert(sem.subsetOf(truth), s"semantic-only pairs: ${(sem -- truth).take(3)}")
    // the K=64 dial variant prunes harder but confirms exactly too
    val semK = Similarity.semanticDedupK64(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(semK.nonEmpty && semK.subsetOf(truth),
      s"k64-only pairs: ${(semK -- truth).take(3)}")
    // the one-row recall contract: n_found ≤ n_true, recall = the division
    val rec = Similarity.semanticDedupRecall(spark, sfDir).collect()
    assert(rec.length == 1)
    val (nTrue, nFound, recall) =
      (rec(0).getLong(0), rec(0).getLong(1), rec(0).getDouble(2))
    assert(nFound <= nTrue && nTrue > 0, s"degenerate audit: $nTrue/$nFound")
    val want = BigDecimal(nFound.toDouble / nTrue)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(recall == want, s"recall $recall != $want")
    // apply: survivors + a drop set that only ever contains paired docs,
    // and no semantic pair survives whole (one endpoint always dropped)
    val kept = Similarity.semanticDedupApply(spark, sfDir).collect()
      .map(_.getLong(0)).toSet
    val n = Tables.embeddings(spark, sfDir).count()
    val paired = sem.flatMap(p => Seq(p._1, p._2))
    val dropped = paired -- kept
    assert(kept.size + dropped.size == n, s"${kept.size}+${dropped.size} != $n")
    assert(sem.forall { case (a, b) => !(kept(a) && kept(b)) },
      "a semantic pair survived the apply step intact")
    // the globally minimal paired id is always its component's survivor
    assert(kept(paired.min), "min paired vec_id must be canonical")
  }

  /** Deterministic synthetic corpus for the native-kernel parity proof:
    * no RNG, every value a closed-form function of (id, dim), spread
    * over magnitudes so 6dp-rounding ties and near-ties occur
    * organically across 256 cells. */
  private def syntheticVectors(n: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (0 until n).map { id =>
      (id.toLong, (0 until 64).map { d =>
        math.sin(0.37 * id + 1.13 * d) + 0.25 * math.cos(2.9 * id * (d + 1))
      })
    }.toDF("vec_id", "ed").repartition(8)
  }

  test("native argmax_cell ≡ greatest chain on a planted adversarial model") {
    import spark.implicits._
    val e = (
      (0 until 40).map { id =>
        (id.toLong, (0 until 64).map(d =>
          math.sin(0.7 * id + 0.31 * d)).toSeq)
      } :+
        // zero-norm vector: every csim NULL → chain falls through to the
        // nid field → lowest cent_id
        (998L, Seq.fill(64)(0.0)) :+
        // the exact copy of centroid 9's direction (see below)
        (999L, (0 until 64).map(d => 2.0 * math.cos(0.11 * d)).toSeq)
      ).toDF("vec_id", "ed")
    val base = (0 until 64).map(d => math.cos(0.11 * d))
    val cents: IndexedSeq[(Long, Seq[Double])] = IndexedSeq(
      (2L, (0 until 64).map(d => math.sin(0.19 * d)).toSeq),
      // ids 5 and 9: cosine against vec 999 rounds to 1.0 for BOTH (id 5
      // is a ~1e-9 perturbation, unrounded cosine < 1), so the 6dp tie
      // must resolve to id 5 — an unrounded comparison would pick 9
      (5L, base.updated(0, base.head + 1e-9)),
      (9L, base),
      // zero-norm centroid: its csim is NULL for every vector → never wins
      (11L, Seq.fill(64)(0.0)),
      // dimension-degenerate centroid: length mismatch → NULL → never wins
      (13L, Seq.fill(8)(1.0)),
      (17L, (0 until 64).map(d => math.cos(0.23 * d + 1.0)).toSeq))
    def collectCells(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = collectCells(Similarity.argmaxCellLit(e, cents))
    val chain = collectCells(Similarity.argmaxCellChain(e, cents))
    assert(native == chain, {
      val diff = native.keySet.filter(k => native(k) != chain(k))
      s"disagreements: ${diff.toSeq.sorted.take(5).map(k => (k, chain(k), native(k)))}"
    })
    assert(native(998L) == 2L, "zero-norm vector must fall to the lowest cent_id")
    assert(native(999L) == 5L, "6dp tie must resolve to the lowest cent_id")
    // K=1 exercises the chain's packed.head special case on both sides
    val one = cents.take(1)
    assert(collectCells(Similarity.argmaxCellLit(e, one)) ==
      collectCells(Similarity.argmaxCellChain(e, one)))
    intercept[IllegalArgumentException] {
      Similarity.argmaxCellLit(e, IndexedSeq.empty)
    }
  }

  test("native argmax_cell ≡ greatest chain at K=256 on generated data") {
    val e = syntheticVectors(4000).cache()
    val cents: IndexedSeq[(Long, Seq[Double])] = (0 until 256).map { k =>
      (k.toLong, (0 until 64).map { d =>
        math.sin(0.53 * k + 0.07 * d) + 0.5 * math.cos(1.31 * k * (d + 1))
      }.toSeq)
    }.toIndexedSeq
    val native = Similarity.argmaxCellLit(e, cents).select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chain = Similarity.argmaxCellChain(e, cents).select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.size == 4000)
    assert(native == chain, {
      val diff = native.keySet.filter(k => native(k) != chain(k))
      s"${diff.size} disagreements, e.g. " +
        diff.toSeq.sorted.take(5).map(k => (k, chain(k), native(k))).toString
    })
    assert(native.values.toSet.size > 64,
      "degenerate fixture: assignments collapsed onto few cells")
    e.unpersist()
  }

  test("semantic_dedup_auto: K derives from the corpus count and matches the fixed-K kernel at the matched K") {
    // the policy formula itself (clamped floor division)
    assert(Similarity.semAutoK(500L) == 20 && Similarity.semAutoK(2000L) == 80,
      "policy drifted: the two verified scales must land on K=20/K=80")
    assert(Similarity.semAutoK(10L) == Similarity.SemAutoKMin)
    assert(Similarity.semAutoK(1000000L) == Similarity.SemAutoKMax)
    // the registered entry equals the fixed-K kernel run at the derived K
    val auto = Similarity.semanticDedupAuto(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val e = Tables.spread(Tables.embeddings(spark, sfDir))
      .withColumn("ed", col("embedding").cast("array<double>"))
      .select("vec_id", "ed")
    val k = Similarity.semAutoK(e.count())
    assert(k != Similarity.SemWideK && k != 8,
      s"fixture corpus must exercise a K ($k) the fixed entries don't")
    val fixed = Similarity.semanticPairsFrom(
        Similarity.semanticAssignWith(e, Similarity.trainCentroidsK(e, k)))
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(auto.sameElements(fixed),
      s"auto(${auto.length}) != fixed-K=$k(${fixed.length})")
  }
}
