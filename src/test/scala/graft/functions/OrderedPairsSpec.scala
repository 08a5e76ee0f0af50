package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftFunctions, SparkSpec}

/** Pins the r22 §12 native `ordered_pairs` against the interpreted
  * higher-order formulation it replaced — pair for pair, in order,
  * including schema nullability — on adversarial in-row lists and on
  * the real corpus kernels that ride it (the inverted-index pair
  * expansion, the source-vocabulary expansion, the basket expansion).
  * Those entries are hash-pinned, so any divergence is an oracle
  * break. */
class OrderedPairsSpec extends SparkSpec {

  override def beforeAll(): Unit = GraftFunctions.registerAll(spark)

  /** The pre-r22 HOF formulation, verbatim (Dedup.scala shape; the
    * Behavior/source sites used the end-clamped `slice(xs, i + 2,
    * size(xs))` variant, covered below). */
  private val hof =
    """flatten(transform(xs, (a, i) ->
      |  transform(slice(xs, i + 2, size(xs) - i - 1),
      |            b -> named_struct('a', a, 'b', b))))""".stripMargin

  private val hofClamped =
    """flatten(transform(xs, (a, i) ->
      |  transform(slice(xs, i + 2, size(xs)),
      |            b -> named_struct('a', a, 'b', b))))""".stripMargin

  private def assertSame(df: DataFrame, what: String): Unit = {
    for (ref <- Seq(hof, hofClamped)) {
      val bad = df.select(expr("ordered_pairs(xs)").as("fast"),
          expr(ref).as("ref"))
        .filter(!(col("fast") <=> col("ref")))
      assert(bad.isEmpty, s"$what diverges: ${bad.head(3).toSeq}")
    }
  }

  test("long arrays: empty, singleton, duplicates, null elements, null array") {
    import spark.implicits._
    val df = Seq[Option[Seq[Option[Long]]]](
      Some(Nil), Some(Seq(Some(1L))), Some(Seq(Some(1L), Some(2L))),
      Some(Seq(Some(3L), Some(1L), Some(2L))),
      Some(Seq(Some(5L), Some(5L), Some(5L))),
      Some(Seq(Some(1L), None, Some(2L), None)),
      None,
      Some((1L to 64L).map(Some(_)))
    ).toDF("xs")
    assertSame(df, "long arrays")
  }

  test("string arrays (source vocabulary shape)") {
    import spark.implicits._
    val df = Seq(
      Seq("a"), Seq("a", "b"), Seq("cnn", "bbc", "reuters", "ap"),
      Seq("", "x", ""), Seq.empty[String]
    ).toDF("xs")
    assertSame(df, "string arrays")
  }

  test("struct arrays (posting-list shape) incl. pair order") {
    import spark.implicits._
    val df = Seq(
      Seq((1L, 10), (2L, 20), (3L, 30)),
      Seq((7L, 1)), Seq.empty[(Long, Int)],
      (1L to 20L).map(i => (i, i.toInt * 2))
    ).toDF("xs0").select(expr(
      "transform(xs0, e -> named_struct('doc_id', e._1, 'n', e._2))").as("xs"))
    assertSame(df, "struct arrays")
    // order is part of the contract: explode feeds an aggregate today,
    // but the kernel must not silently reorder
    val got = df.select(expr("ordered_pairs(xs)").as("p")).collect()
    val want = df.select(expr(hof).as("p")).collect()
    assert(got.toSeq == want.toSeq, "pair order differs from the HOF form")
  }

  test("schema equals the HOF form's (names, types, nullability)") {
    import spark.implicits._
    val df = Seq(Seq(1L, 2L)).toDF("xs")
    val fast = df.select(expr("ordered_pairs(xs)").as("p")).schema
    val ref = df.select(expr(hof).as("p")).schema
    assert(fast == ref, s"schema diverges:\n  $fast\n  $ref")
  }

  test("corpus kernels are row-identical to the HOF formulation") {
    val dir = sfDir
    // inverted-index pairs: rebuild the pre-§12 occ stream verbatim and
    // compare final pair outputs
    val sh = graft.llm.Dedup.shinglesOf(
      graft.Tables.spread(graft.Tables.documents(spark, dir)))
      .select("doc_id", "shingles")
    val maxDf = graft.llm.Dedup.DefaultMaxShingleDf
    val postings = sh.select(col("doc_id"), size(col("shingles")).as("n"),
        explode(expr("transform(shingles, s -> xxhash64(s))")).as("s"))
      .groupBy("s")
      .agg(expr(s"capped_list(named_struct('doc_id', doc_id, 'n', n), $maxDf)")
        .as("ds0"))
      .filter(col("ds0").isNotNull && size(col("ds0")) >= 2)
      .select(sort_array(col("ds0")).as("xs"))
    assertSame(postings, "posting lists")

    val pairs = graft.llm.Dedup.ngramJaccardPairs(spark, dir).collect().toSeq
    val oldOcc = postings.select(explode(expr(hof)).as("p"))
      .groupBy(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("p.a.n").as("na"), col("p.b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("j",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("j") >= 0.5 - 1e-6)
      .withColumn("jaccard", round(col("j"), 6))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(pairs == oldOcc, "jaccard pairs diverge from the HOF kernel")
  }
}
