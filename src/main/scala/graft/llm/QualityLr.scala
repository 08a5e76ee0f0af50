package graft.llm

import java.math.RoundingMode

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Decimal

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
  *    generated by the same loop bounds the engine uses, and the engine
  *    runs each round as one RDD job that repeats Catalyst's ops in
  *    Catalyst's order ([[gdTrajectory]]);
  *  - `exp` is the same assumed-identical-libm class as the `ln` the
  *    idf/PMI/BM25/Zipf oracles already rely on (green at both scales
  *    since r13).
  *
  * Scale shape (100 TB): each GD round is ONE tree-aggregated pass over
  * the cached feature frame, the way MLlib trains — map-side partial
  * sums, a 5-value reduce, no shuffle of document rows, and no query
  * planned per round; the model is 4 doubles (a bounded driver artifact,
  * the [[TextAnalysis]] BPE-merge-table class), so [[Rounds]] driver
  * round-trips move 32 bytes each. Scoring and eval are map-only over
  * the same cached frame, the sigmoid fused into the plan, plus a
  * one-row aggregate. A web-scale run would mini-batch or subsample rounds;
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

  /** The feature frame a call trains and scores over: [[featFrame]]
    * spread by [[Tables.sizedSpread]] and cached. A feature row is 5
    * numerics (~40 B), so at bench scale the whole frame is a few hundred
    * KB, and a `defaultParallelism` layout would make each of the
    * [[Rounds]] training jobs schedule near-empty tasks. The repartition
    * is a shuffle, so the regex-heavy extraction upstream keeps its full
    * scan parallelism; it runs once per call, for training and scoring
    * alike. Results are invariant to the partition count (every gradient
    * is an exact decimal sum). */
  private[graft] def cachedFeats(spark: SparkSession, dir: String): DataFrame =
    Tables.sizedSpread(featFrame(spark, dir)).scratchCache()

  /** The trained model: [[Rounds]] batch-GD steps from zero weights.
    * Pass [[cachedFeats]]; any (f1, f2, f3, y) double frame trains. */
  private[graft] def trainWeightsFrom(feats: DataFrame): IndexedSeq[Double] =
    gdTrajectory(feats).last

  /** The weights after each round, the zero start first. The feature rows
    * are read as one `RDD[InternalRow]` taken once, and each round is one
    * `treeAggregate` job over it: four exact decimal sums and the row
    * count, combined map-side. No query is planned or code-generated
    * inside the loop; a plan per round cost more than the round's scan.
    *
    * Each op is Catalyst's, in Catalyst's order, so the weights are the
    * ones the SQL formulation (the oracle's unrolled CTE chain) computes:
    *  - z = ((w0 + w1·f1) + w2·f2) + w3·f3, then
    *    r = 1 / (1 + exp(−z)) − y with `StrictMath.exp`, as Spark's `Exp`;
    *  - each term r·x is rounded to 12dp as Spark's double `round` does,
    *    cast DECIMAL(28,14) through Spark's `Decimal` (HALF_UP), and the
    *    terms are summed exactly, so the combination order cannot matter;
    *  - w ← round(w − Lr · (g.toDouble / n), 6), with `Decimal.toDouble`.
    * A row with a null feature or label adds to n but to no sum, as a
    * SQL `sum` skips nulls. With no row to sum, the weights would be null,
    * so training fails with a named error instead. */
  private[llm] def gdTrajectory(feats: DataFrame): IndexedSeq[IndexedSeq[Double]] = {
    val rows = feats.select("f1", "f2", "f3", "y").queryExecution.toRdd
    (1 to Rounds).scanLeft(IndexedSeq(0d, 0d, 0d, 0d)) { (w, _) =>
      val ws = w.toArray
      val g = rows.treeAggregate(new GradSums)(_.add(_, ws), _.merge(_))
      if (g.live == 0) throw new IllegalArgumentException(
        "quality_lr_train: the feature frame has no rows to train on")
      (0 to 3).map(j => sqlRound(w(j) - Lr * (Decimal(g.sums(j)).toDouble / g.n), 6))
    }
  }

  /** Spark's `round` on a double: HALF_UP over the shortest decimal form. */
  private def sqlRound(d: Double, scale: Int): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(scale, RoundingMode.HALF_UP).doubleValue

  /** One round's partial gradient: the four decimal sums, the row count
    * n, and how many rows had non-null terms. */
  private final class GradSums extends Serializable {
    val sums: Array[java.math.BigDecimal] = Array.fill(4)(java.math.BigDecimal.ZERO)
    var n = 0L
    var live = 0L

    def add(row: InternalRow, w: Array[Double]): GradSums = {
      n += 1
      if (!(row.isNullAt(0) || row.isNullAt(1) || row.isNullAt(2) || row.isNullAt(3))) {
        val f1 = row.getDouble(0)
        val f2 = row.getDouble(1)
        val f3 = row.getDouble(2)
        val z = ((w(0) + w(1) * f1) + w(2) * f2) + w(3) * f3
        val r = 1d / (1d + StrictMath.exp(-z)) - row.getDouble(3)
        term(0, r * 1d)
        term(1, r * f1)
        term(2, r * f2)
        term(3, r * f3)
        live += 1
      }
      this
    }

    // round(r·x, 12) cast DECIMAL(28,14); a term lies in [−1, 1], so the
    // cast cannot overflow
    private def term(j: Int, rx: Double): Unit = {
      val d = Decimal(sqlRound(rx, 12))
      d.changePrecision(28, 14)
      sums(j) = sums(j).add(d.toJavaBigDecimal)
    }

    def merge(o: GradSums): GradSums = {
      for (j <- 0 to 3) sums(j) = sums(j).add(o.sums(j))
      n += o.n
      live += o.live
      this
    }
  }

  /** The trained weights, one row per feature. */
  def qualityLrTrain(spark: SparkSession, dir: String): DataFrame = {
    val w = trainWeightsFrom(cachedFeats(spark, dir))
    // four rows, sorted on the driver; one partition, so a write makes
    // one file and collecting runs one job, not a distributed sort's three
    spark.createDataFrame(FeatNames.zip(w).sortBy(_._1)).toDF("feature", "weight")
      .coalesce(1)
  }

  /** Every document scored with the trained model: sigmoid probability
    * (6dp) and the keep flag at the 0.5 boundary — the frame a
    * model-gated ingest actually reads. The model is trained by
    * [[trainWeightsFrom]] inside this call (the weights are a value, so
    * a rewritten corpus is always scored by a model trained on it);
    * scoring is then map-only over the same cached feature frame, with
    * the sigmoid fused into the plan as one expression. */
  def qualityLrScore(spark: SparkSession, dir: String): DataFrame = {
    val feats = cachedFeats(spark, dir)
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
    val feats = cachedFeats(spark, dir)
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
