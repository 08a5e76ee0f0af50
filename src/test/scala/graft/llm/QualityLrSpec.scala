package graft.llm

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class QualityLrSpec extends SparkSpec {

  /** y = [f1 > 0.5] with f2 = f3 = 0: one live feature, linearly
    * separable. */
  private def planted: DataFrame = {
    import spark.implicits._
    (0 until 200).map { i =>
      val f1 = (i % 100) / 100.0
      (i.toLong, f1, 0.0, 0.0, if (f1 > 0.5) 1.0 else 0.0)
    }.toDF("doc_id", "f1", "f2", "f3", "y")
  }

  /** One GD round as a Catalyst query: the per-round aggregate and weight
    * update the trainer ran before it moved to one RDD job per round. */
  private def catalystRound(feats: DataFrame, w: IndexedSeq[Double]): IndexedSeq[Double] = {
    val z = lit(w(0)) + lit(w(1)) * col("f1") +
      lit(w(2)) * col("f2") + lit(w(3)) * col("f3")
    val r = lit(1d) / (lit(1d) + exp(-z)) - col("y")
    def g(x: Column) = sum(round(r * x, 12).cast("decimal(28,14)"))
    val row = feats
      .agg(g(lit(1d)).as("g0"), g(col("f1")).as("g1"),
        g(col("f2")).as("g2"), g(col("f3")).as("g3"),
        count(lit(1)).as("n"))
      .select((0 to 3).map(j =>
        round(lit(w(j)) - lit(QualityLr.Lr) * (col(s"g$j").cast("double") / col("n")), 6)
          .as(s"w$j")): _*)
      .head()
    (0 to 3).map(row.getDouble)
  }

  private def bits(w: IndexedSeq[Double]) = w.map(java.lang.Double.doubleToRawLongBits)

  test("GD learns a planted separable boundary (sign and accuracy)") {
    // after Rounds steps the learned plane must classify the planted
    // fixture perfectly and put positive weight on its one live feature
    val feats = planted
    val w = QualityLr.trainWeightsFrom(feats)
    assert(w(1) > 0, s"live feature weight must be positive: $w")
    assert(w(2) == 0.0 && w(3) == 0.0,
      s"dead features (constant zero) must keep zero gradient: $w")
    val correct = feats.withColumn("z",
        lit(w(0)) + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") + lit(w(3)) * col("f3"))
      .filter((col("z") >= 0) === (col("y") === 1.0)).count()
    assert(correct >= 190, s"fixture accuracy ${correct / 200.0} under 0.95 (w=$w)")
  }

  test("training on a zero-row feature frame fails with a named error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Double, Double, Double, Double)]
      .toDF("doc_id", "f1", "f2", "f3", "y")
    val e = intercept[IllegalArgumentException](QualityLr.trainWeightsFrom(empty))
    assert(e.getMessage.contains("quality_lr_train"), e.getMessage)
  }

  test("training is deterministic and the registered entry exposes it") {
    val w1 = QualityLr.trainWeightsFrom(QualityLr.featFrame(spark, sfDir))
    val w2 = QualityLr.trainWeightsFrom(QualityLr.featFrame(spark, sfDir))
    assert(w1 == w2, "two trainings on the same corpus must be bit-identical")
    val rows = QualityLr.qualityLrTrain(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows.keySet == Set("bias", "len_term", "stop_term", "punct_term"))
    assert(rows("len_term") == w1(1) && rows("stop_term") == w1(2))
  }

  test("student beats the majority baseline and the eval row reconciles") {
    val e = QualityLr.qualityLrEval(spark, sfDir).head()
    val (n, tp, fp, fn, tn, acc) = (e.getLong(0), e.getLong(1),
      e.getLong(2), e.getLong(3), e.getLong(4), e.getDouble(5))
    assert(tp + fp + fn + tn == n, "confusion cells must partition the corpus")
    val want = BigDecimal((tp + tn).toDouble / n)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(acc == want, s"accuracy $acc != $want")
    // majority baseline from the teacher labels themselves
    val pos = QualityLr.featFrame(spark, sfDir)
      .filter(col("y") === 1.0).count()
    val majority = math.max(pos, n - pos).toDouble / n
    assert(acc > majority,
      s"student accuracy $acc does not beat the majority baseline $majority")
  }

  test("score entry: keep flag derives from the emitted score, corpus covered") {
    val s = QualityLr.qualityLrScore(spark, sfDir).cache()
    assert(s.count() == Tables.documents(spark, sfDir).count())
    assert(s.filter(col("lr_score") < 0 || col("lr_score") > 1).isEmpty)
    assert(s.filter((col("lr_score") >= 0.5) =!= col("keep")).isEmpty,
      "keep must equal lr_score >= 0.5 row-for-row")
    assert(s.filter(col("keep")).count() > 0 && s.filter(!col("keep")).count() > 0,
      "the corpus must exercise both the keep and the drop side")
  }

  test("every RDD training round equals the Catalyst round, bit for bit") {
    for ((name, feats) <- Seq("planted" -> planted,
        "sf0.001" -> QualityLr.cachedFeats(spark, sfDir),
        "sf0.01" -> QualityLr.cachedFeats(spark, SparkSpec.gateDir))) {
      val traj = QualityLr.gdTrajectory(feats)
      assert(traj.length == QualityLr.Rounds + 1)
      assert(traj.head == IndexedSeq(0d, 0d, 0d, 0d))
      for (k <- 1 to QualityLr.Rounds) {
        val want = catalystRound(feats, traj(k - 1))
        assert(bits(traj(k)) == bits(want),
          s"$name round $k: RDD ${traj(k)} vs Catalyst $want")
      }
      assert(traj.last != traj.head, s"$name: the weights never moved")
    }
  }

  test("training runs Rounds jobs once the cache is built, and no SQL execution") {
    val sc = spark.sparkContext
    val feats = QualityLr.cachedFeats(spark, sfDir)
    feats.count() // builds the cache
    val sqlRuns = new AtomicInteger
    val onSql = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqlRuns.incrementAndGet()
        case _ =>
      }
    }
    val jobs = try SparkSpec.jobsDuring(spark) {
      sc.addSparkListener(onSql)
      QualityLr.trainWeightsFrom(feats)
    }._2 finally sc.removeSparkListener(onSql)
    assert(jobs == QualityLr.Rounds, s"$jobs jobs for ${QualityLr.Rounds} rounds")
    assert(sqlRuns.get == 0, s"${sqlRuns.get} SQL executions inside the training loop")
  }

  test("scoring reads the cached feature frame the model trained on") {
    val plan = QualityLr.qualityLrScore(spark, sfDir).queryExecution.withCachedData
    assert(plan.collect { case r: InMemoryRelation => r }.nonEmpty,
      s"scoring does not read the cached features:\n$plan")
    assert(plan.collect { case r: LogicalRelation => r }.isEmpty,
      s"scoring re-reads the corpus instead of the cached features:\n$plan")
  }

  test("quality_lr_train sorts its 4-row model on the driver: collecting it runs one job") {
    val model = QualityLr.qualityLrTrain(spark, sfDir)
    val (rows, jobs) = SparkSpec.jobsDuring(spark)(model.collect())
    val names = rows.map(_.getString(0)).toSeq
    assert(names == names.sorted && names.size == 4, names)
    assert(model.rdd.getNumPartitions == 1, "a write would split the model into several files")
    assert(jobs == 1, s"collecting the trained model started $jobs jobs")
  }
}
