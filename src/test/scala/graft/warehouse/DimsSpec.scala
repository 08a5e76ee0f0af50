package graft.warehouse

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Property tests for the ordinal kernel: under a total ordering
  * [[Tables.globalRunningSum]] with value 1 must assign exactly the ids
  * the single-partition `row_number()` window assigns, a dense 1..n, at
  * any shuffle-partition count. */
class DimsSpec extends SparkSpec {

  private val partitionCounts = Seq(1, 3, 8)

  /** `keys` as a scrambled one-column frame `k` on a child session with
    * `parts` shuffle partitions, which the kernel reads from the frame. */
  private def keyFrame(keys: Seq[String], parts: Int): DataFrame = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    import s.implicits._
    keys.toDF("k").repartition(7) // scramble input placement
  }

  private def kernelIds(df: DataFrame): DataFrame =
    Tables.globalRunningSum(df, Seq(col("k")), lit(1L), "id").select("k", "id")

  private def windowIds(df: DataFrame): DataFrame =
    df.withColumn("id", row_number().over(Window.orderBy(col("k"))).cast("long"))
      .select("k", "id")

  private def check(keys: Seq[String]): Unit = for (parts <- partitionCounts) {
    val df = keyFrame(keys, parts)
    val got = kernelIds(df)
    assert(got.except(windowIds(df)).isEmpty && windowIds(df).except(got).isEmpty,
      s"keys=${keys.take(5)}... parts=$parts")
  }

  test("scalable surrogate keys equal the row_number path (unique keys, several partition counts)") {
    check(scala.util.Random.shuffle((1 to 500).map(i => f"key_$i%04d")).toSeq)
  }

  test("scalable surrogate keys equal the row_number path (skewed key lengths)") {
    // highly skewed ordering values: range partitioner must still place
    // every key so that prefix offsets reproduce the global order
    val keys = (1 to 300).map(i => "a" * (i % 17 + 1) + f"_$i%03d")
    check(scala.util.Random.shuffle(keys).toSeq)
  }

  test("ids are a dense 1..n sequence") {
    val keys = (1 to 123).map(i => f"v$i%03d")
    for (parts <- partitionCounts) {
      val ids = kernelIds(keyFrame(keys, parts)).select("id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == (1L to 123L), s"parts=$parts")
    }
  }

  test("inferred dim members: exactly the fact-referenced gap keys, flagged") {
    val out = Dims.inferredDimMembers(spark, sfDir).cache()
    val inferred = out.filter(col("is_inferred")).collect()
    // the simulated gap: every ordered-by customer with custkey % 97 == 0
    val want = graft.Tables.orders(spark, sfDir)
      .select(col("o_custkey")).distinct()
      .filter(col("o_custkey") % 97 === 0)
      .collect().map(_.getLong(0)).toSet
    assert(inferred.map(_.getAs[Long]("custkey")).toSet == want)
    assert(inferred.forall(r => r.getAs[String]("name") == "(inferred)" &&
      r.getAs[Long]("nationkey") == -1L))
    // loaded members pass through unflagged; no key appears twice
    val n = out.count()
    assert(out.select("custkey").distinct().count() == n)
    val loaded = graft.Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 97 =!= 0).count()
    assert(n == loaded + inferred.length)
    out.unpersist()
  }
}
