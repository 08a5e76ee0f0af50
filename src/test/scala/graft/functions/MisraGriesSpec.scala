package graft.functions

import org.apache.spark.sql.functions._

import graft.{GraftFunctions, SparkSpec}

class MisraGriesSpec extends SparkSpec {

  override def beforeAll(): Unit = GraftFunctions.registerAll(spark)

  /** Zipf-ish synthetic stream: term i appears ~N/i times — real skew, so
    * small-k sketches genuinely decrement and merges genuinely truncate. */
  private def stream(n: Int): Seq[String] =
    (1 to n).flatMap(i => Seq.fill(math.max(1, n / i / 10))(s"t$i"))

  private def sketch(xs: Seq[String], k: Int, parts: Int): Map[String, Long] = {
    import spark.implicits._
    xs.toDF("term").repartition(parts)
      .agg(expr(s"misra_gries(term, $k)").as("m"))
      .head().getMap[String, Long](0).toMap
  }

  test("MG guarantees hold for every k and partitioning on skewed data") {
    val xs = stream(200)
    val exact = xs.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
    val n = xs.size.toLong
    for (k <- Seq(2, 4, 8); parts <- Seq(1, 3, 8)) {
      val mg = sketch(xs, k, parts)
      assert(mg.size <= k, s"k=$k parts=$parts size=${mg.size}")
      mg.foreach { case (t, est) =>
        val tf = exact.getOrElse(t, 0L)
        // undercount only, bounded error (mergeable-summaries bound n/(k+1))
        assert(est >= 1 && est <= tf, s"k=$k parts=$parts $t est=$est tf=$tf")
        assert(tf - est <= n / (k + 1) + 1, s"k=$k parts=$parts $t")
      }
      // presence: every true heavy hitter (tf > n/(k+1)) is in the summary
      exact.foreach { case (t, tf) =>
        if (tf > n / (k + 1))
          assert(mg.contains(t), s"k=$k parts=$parts heavy $t (tf=$tf) missing")
      }
    }
  }

  test("sketch of k >= vocabulary is the exact wordcount") {
    val xs = Seq("a", "b", "a", "c", "a", "b")
    val mg = sketch(xs, 10, 2)
    assert(mg == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }

  test("null terms are ignored, not counted") {
    import spark.implicits._
    val mg = Seq(Some("a"), None, Some("a"), None)
      .toDF("term")
      .agg(expr("misra_gries(term, 4)").as("m"))
      .head().getMap[String, Long](0).toMap
    assert(mg == Map("a" -> 2L))
  }

  test("sketch aggregates across micro-batches (streaming state roundtrip)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val src = MemoryStream[String]
    val q = src.toDF().toDF("term")
      .groupBy().agg(expr("misra_gries(term, 4)").as("m"))
      .writeStream.format("memory").queryName("mg_stream")
      .outputMode("complete").start()
    try {
      // two batches force the buffer through the state store's
      // serialize/deserialize and a cross-batch merge; vocab 5 > k=4
      // engages the decrement path
      src.addData("a", "a", "b")
      q.processAllAvailable()
      src.addData("a", "c", "c", "d", "e")
      q.processAllAvailable()
      val mg = spark.table("mg_stream").head().getMap[String, Long](0).toMap
      val exact = Map("a" -> 3L, "b" -> 1L, "c" -> 2L, "d" -> 1L, "e" -> 1L)
      assert(mg.size <= 4)
      mg.foreach { case (t, est) =>
        assert(est >= 1 && est <= exact(t), s"$t est=$est")
        assert(exact(t) - est <= 8 / 5 + 1, s"$t err") // n/(k+1) bound, n=8
      }
      assert(mg.contains("a"), "the heavy term must survive every merge")
    } finally q.stop()
  }

  test("oversized tokens (> 64 KiB UTF-8) survive the serialize roundtrip") {
    // writeUTF would throw UTFDataFormatException at 65536 encoded bytes;
    // the length-prefixed raw-UTF-8 codec must not. repartition(4) forces
    // partial-buffer serialization through the shuffle.
    val big = "x" * 70000
    val mg = sketch(Seq(big, big, "small"), 4, 4)
    assert(mg(big) == 2L && mg("small") == 1L)
  }

  test("corpus contract entry: every theorem-qualified term passes both checks") {
    val hh = graft.llm.TextAnalysis.heavyHittersCheck(spark, sfDir).cache()
    assert(hh.count() > 0, "expected qualifying heavy terms in the corpus")
    assert(hh.filter(!col("in_sketch") || !col("err_within_bound")).isEmpty)
    hh.unpersist()
  }
}
