package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.RegexCount
import graft.RunScope.ScratchCacheOps

/** An in-engine TRAINED quality classifier — logistic regression fit by
  * batch gradient descent over the same per-document terms the
  * hand-tuned [[TextAnalysis.withQualityScore]] gate reads (beyond-
  * reference surface; builder brief: the published pretraining
  * pipelines train fastText-style quality classifiers on exactly this
  * kind of heuristic label, then score the corpus with the model).
  * The teacher label is the composite score's ≥ 0.5 gate, so this
  * family is the DISTILLATION of the hand gate into a trained model:
  * `quality_lr_train` learns the weights, `quality_lr_score` scores
  * every document with them, and `quality_lr_eval` reports the
  * student/teacher confusion — the audit that says whether the learned
  * boundary is usable before anyone swaps it in.
  *
  * Determinism / oracle parity (the kmeans + bpe_train discipline):
  *  - features are UNROUNDED clamped terms in [0, 1], formula-shared
  *    with the quality gate ([[TextAnalysis.qualityCteSql]] on the
  *    oracle side, the same expressions here);
  *  - each GD round's gradient is a per-row term ROUNDED to 12dp, cast
  *    DECIMAL(28,14), summed exactly (order-independent, so Spark's
  *    partial aggregation and DuckDB's sequential sum agree), cast to
  *    DOUBLE and divided by n with the same IEEE ops on both engines;
  *  - weight updates round to 6dp per round; the oracle unrolls the
  *    identical [[Rounds]]-step chain as cross-joined one-row CTEs
  *    generated by the same loop bounds the engine uses;
  *  - `exp` is the same assumed-identical-libm class as the `ln` the
  *    idf/PMI/BM25/Zipf oracles already rely on (green at both scales
  *    since r13).
  *
  * Scale shape (100 TB): each GD round is ONE aggregated pass over the
  * cached feature frame — map-side partial sums, a 5-column one-row
  * reduce, no shuffle of document rows; the model is 4 doubles (a
  * bounded driver artifact, the [[TextAnalysis]] BPE-merge-table
  * class), so [[Rounds]] driver round-trips move 32 bytes each.
  * Scoring and eval are map-only over the corpus plus a one-row
  * aggregate. A web-scale run would mini-batch or subsample rounds;
  * full-batch GD is the deterministic, oracle-mirrorable formulation
  * and its per-round cost is the cheapest scan in the registry. */
object QualityLr {

  /** GD rounds / learning rate. Measured on the sf0.01 corpus (driver
    * replay, SCALE.md): at (16, 8.0) the student agrees with the
    * teacher gate on 93.8% of documents vs a 65.2% majority baseline;
    * fewer rounds or a smaller step leave the boundary half-learned
    * (6 rounds at lr=1 never beats majority). */
  private[llm] val Rounds = 16
  private[llm] val Lr = 8.0

  private val FeatNames = Seq("bias", "len_term", "stop_term", "punct_term")

  /** Per-document training frame: the three clamped quality terms
    * (UNROUNDED, exactly [[TextAnalysis.withQualityScore]]'s inputs)
    * and the teacher label y = [score ≥ 0.5] on the 6dp-rounded score
    * both engines output — per-row expressions only. */
  private[graft] def featFrame(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir))
    val nTok = TextAnalysis.wsTokenCount(col("text"))
    val nStop = RegexCount.of(col("text"), TextAnalysis.StopRe)
    val nPunct = RegexCount.of(col("text"), "[.,!?;:]")
    val f1 = least(nTok.cast("double") / 100d, lit(1d))
    val f2 = least(nStop.cast("double") / nTok * 5d, lit(1d))
    val f3 = least(nPunct.cast("double") / length(col("text")) * 10d, lit(1d))
    val score = f1 * 0.4 + f2 * 0.4 + (lit(1d) - f3) * 0.2
    docs.withColumn("f1", f1).withColumn("f2", f2).withColumn("f3", f3)
      .withColumn("y", when(round(score, 6) >= 0.5, 1d).otherwise(0d))
      .select("doc_id", "f1", "f2", "f3", "y")
  }

  /** The trained model: [[Rounds]] batch-GD steps, every arithmetic op
    * IN-PLAN (the one-row weight update is a `select` over the one-row
    * gradient aggregate, so engine and oracle share the exact SQL op
    * sequence — no driver-side float math beyond reading the 4 doubles
    * back per round).
    *
    * The cached frame is [[Tables.sizedSpread]] before caching: a feature
    * row is 5 numerics (~40 B), so at bench scale the whole frame is a few
    * hundred KB and the [[Rounds]] sequential one-row aggregate jobs
    * would otherwise each schedule `defaultParallelism` near-empty tasks
    * over the cached partitions — pure scheduler overhead paid 16×. The
    * repartition is a shuffle, so the regex-heavy feature extraction
    * upstream keeps its full scan parallelism. Results are invariant to
    * the partition count: every per-round aggregate is an exact decimal
    * sum (combination-order-proof). */
  private[graft] def trainWeightsFrom(feats0: DataFrame): IndexedSeq[Double] = {
    val feats = Tables.sizedSpread(feats0).scratchCache() // Rounds aggregated passes
    var w = IndexedSeq(0d, 0d, 0d, 0d)
    for (_ <- 1 to Rounds) {
      val z = lit(w(0)) + lit(w(1)) * col("f1") +
        lit(w(2)) * col("f2") + lit(w(3)) * col("f3")
      val r = lit(1d) / (lit(1d) + exp(-z)) - col("y")
      def g(x: Column) = sum(round(r * x, 12).cast("decimal(28,14)"))
      val row = feats
        .agg(g(lit(1d)).as("g0"), g(col("f1")).as("g1"),
          g(col("f2")).as("g2"), g(col("f3")).as("g3"),
          count(lit(1)).as("n"))
        .select((0 to 3).map(j =>
          round(lit(w(j)) - lit(Lr) * (col(s"g$j").cast("double") / col("n")), 6)
            .as(s"w$j")): _*)
        .head()
      // sum over no rows is null, and so is every weight derived from it
      if (row.isNullAt(0)) throw new IllegalArgumentException(
        "quality_lr_train: the feature frame has no rows to train on")
      w = (0 to 3).map(row.getDouble)
    }
    w
  }

  /** The trained weights, one row per feature. */
  def qualityLrTrain(spark: SparkSession, dir: String): DataFrame = {
    val w = trainWeightsFrom(featFrame(spark, dir))
    spark.createDataFrame(FeatNames.zip(w)).toDF("feature", "weight")
      .orderBy("feature")
  }

  /** Every document scored with the trained model: sigmoid probability
    * (6dp) and the keep flag at the 0.5 boundary — the frame a
    * model-gated ingest actually reads. The model is trained by
    * [[trainWeightsFrom]] inside this call (the weights are a value, so
    * a rewritten corpus is always scored by a model trained on it);
    * scoring is then map-only over the corpus. */
  def qualityLrScore(spark: SparkSession, dir: String): DataFrame = {
    val feats = featFrame(spark, dir)
    scoreWith(feats, trainWeightsFrom(feats))
      .select(col("doc_id"), col("lr_score"), (col("lr_score") >= 0.5).as("keep"))
      .orderBy("doc_id")
  }

  private def scoreWith(feats: DataFrame, w: IndexedSeq[Double]): DataFrame = {
    val z = lit(w(0)) + lit(w(1)) * col("f1") +
      lit(w(2)) * col("f2") + lit(w(3)) * col("f3")
    feats.withColumn("lr_score", round(lit(1d) / (lit(1d) + exp(-z)), 6))
  }

  /** Student-vs-teacher confusion, one row: how often the trained gate
    * agrees with the composite-score gate it distilled. The acceptance
    * audit a pipeline runs before swapping a hand rule for a model.
    * Trains its own model in the call, like [[qualityLrScore]]. */
  def qualityLrEval(spark: SparkSession, dir: String): DataFrame = {
    val feats = featFrame(spark, dir)
    scoreWith(feats, trainWeightsFrom(feats))
      .select(col("y"), (col("lr_score") >= 0.5).as("keep"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("keep") && col("y") === 1d, 1)).as("tp"),
        count(when(col("keep") && col("y") === 0d, 1)).as("fp"),
        count(when(!col("keep") && col("y") === 1d, 1)).as("fn"),
        count(when(!col("keep") && col("y") === 0d, 1)).as("tn"))
      .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        round((col("tp") + col("tn")).cast("double") / col("n"), 6)
          .as("accuracy"))
  }

  // -------------------------------------------------------------------
  // Oracles: the identical GD chain unrolled as one-row CTEs, generated
  // by the same loop bounds and constants the engine uses.
  // -------------------------------------------------------------------

  // feats is AS MATERIALIZED: every one of the [[Rounds]] gradient CTEs
  // references it, and DuckDB's default inlining would otherwise replay
  // the regex-heavy scan (and re-open the parquet) once per round —
  // the 16-round chain exhausted the process's file descriptors before
  // it exhausted any CPU
  private def featsCteSql: String =
    s"""${TextAnalysis.qualityCteSql},
       |feats AS MATERIALIZED (
       |  SELECT doc_id,
       |         least(n_tokens / 100.0, 1.0) AS f1,
       |         least(n_stop * 1.0 / n_tokens * 5, 1.0) AS f2,
       |         least(n_punct * 1.0 / length(text) * 10, 1.0) AS f3,
       |         CASE WHEN ${TextAnalysis.qualityScoreSql} >= 0.5
       |              THEN 1.0 ELSE 0.0 END AS y
       |  FROM t
       |), nn AS (SELECT count(*) AS n FROM feats),
       |w0 AS MATERIALIZED (SELECT 0.0 AS wb, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)""".stripMargin

  private def gdChainSql: String = {
    val sb = new StringBuilder
    for (t <- 1 to Rounds) {
      val p = s"(1.0 / (1.0 + exp(-(w.wb + w.w1 * f.f1 + w.w2 * f.f2 + w.w3 * f.f3))) - f.y)"
      def g(x: String) = s"sum(CAST(round($p * $x, 12) AS DECIMAL(28,14)))"
      sb.append(s""", g$t AS (
         |  SELECT ${g("1.0")} AS g0, ${g("f.f1")} AS g1,
         |         ${g("f.f2")} AS g2, ${g("f.f3")} AS g3
         |  FROM feats f, w${t - 1} w
         |), w$t AS MATERIALIZED (
         |  SELECT round(w.wb - $Lr * (CAST(g.g0 AS DOUBLE) / nn.n), 6) AS wb,
         |         round(w.w1 - $Lr * (CAST(g.g1 AS DOUBLE) / nn.n), 6) AS w1,
         |         round(w.w2 - $Lr * (CAST(g.g2 AS DOUBLE) / nn.n), 6) AS w2,
         |         round(w.w3 - $Lr * (CAST(g.g3 AS DOUBLE) / nn.n), 6) AS w3
         |  FROM w${t - 1} w, g$t g, nn
         |)""".stripMargin)
    }
    sb.toString
  }

  val qualityLrTrainSql: String =
    s"""WITH $featsCteSql$gdChainSql
       |SELECT feature, weight FROM (
       |  SELECT 'bias' AS feature, wb AS weight FROM w$Rounds
       |  UNION ALL SELECT 'len_term', w1 FROM w$Rounds
       |  UNION ALL SELECT 'stop_term', w2 FROM w$Rounds
       |  UNION ALL SELECT 'punct_term', w3 FROM w$Rounds)
       |ORDER BY feature""".stripMargin

  private def scoredCteSql: String =
    s""", scored AS (
       |  SELECT f.doc_id, f.y,
       |         round(1.0 / (1.0 + exp(-(w.wb + w.w1 * f.f1 + w.w2 * f.f2 + w.w3 * f.f3))), 6) AS lr_score
       |  FROM feats f, w$Rounds w
       |)""".stripMargin

  val qualityLrScoreSql: String =
    s"""WITH $featsCteSql$gdChainSql$scoredCteSql
       |SELECT doc_id, lr_score, lr_score >= 0.5 AS keep
       |FROM scored ORDER BY doc_id""".stripMargin

  val qualityLrEvalSql: String =
    s"""WITH $featsCteSql$gdChainSql$scoredCteSql
       |SELECT CAST(count(*) AS BIGINT) AS n,
       |       CAST(count(*) FILTER (WHERE lr_score >= 0.5 AND y = 1.0) AS BIGINT) AS tp,
       |       CAST(count(*) FILTER (WHERE lr_score >= 0.5 AND y = 0.0) AS BIGINT) AS fp,
       |       CAST(count(*) FILTER (WHERE lr_score < 0.5 AND y = 1.0) AS BIGINT) AS fn,
       |       CAST(count(*) FILTER (WHERE lr_score < 0.5 AND y = 0.0) AS BIGINT) AS tn,
       |       round((count(*) FILTER (WHERE lr_score >= 0.5 AND y = 1.0)
       |              + count(*) FILTER (WHERE lr_score < 0.5 AND y = 0.0)) * 1.0
       |             / count(*), 6) AS accuracy
       |FROM scored""".stripMargin
}
