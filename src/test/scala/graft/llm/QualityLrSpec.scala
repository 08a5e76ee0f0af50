package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class QualityLrSpec extends SparkSpec {

  test("GD learns a planted separable boundary (sign and accuracy)") {
    import spark.implicits._
    // y = [f1 > 0.5] with f2 = f3 = 0: one live feature, linearly
    // separable; after Rounds steps the learned plane must classify
    // the fixture perfectly and put positive weight on f1
    val feats = (0 until 200).map { i =>
      val f1 = (i % 100) / 100.0
      (i.toLong, f1, 0.0, 0.0, if (f1 > 0.5) 1.0 else 0.0)
    }.toDF("doc_id", "f1", "f2", "f3", "y")
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
}
