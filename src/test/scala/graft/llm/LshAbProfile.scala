package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Manual in-JVM alternated A/B for the r22 slim LSH band join; not run
  * by the test suite.
  * `sbt "Test/runMain graft.llm.LshAbProfile <sfDir> [reps]"`.
  * The OLD kernel (band exchange carries the 64-double payload; cosine
  * per collision; pair-dedup after confirm) is an inline copy of the r21
  * code so both variants alternate inside one session. Also asserts the
  * two variants return identical rows before timing. */
object LshAbProfile {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.maxFields", "256")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftFunctions.registerAll(spark)
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def measure(label: String)(f: => Unit): Double = {
      graft.RunScope.releaseAll(blocking = true)
      val t0 = System.nanoTime()
      f
      val dt = (System.nanoTime() - t0) / 1e9
      graft.RunScope.releaseAll(blocking = true)
      println(f"[ab] $label%-22s ${dt}%7.2f s")
      dt
    }
    def projDot(weights: Seq[Int]) =
      expr(s"dot_product(ed, array(${weights.map(w => s"${w.toDouble}D").mkString(",")}))")

    // r21 kernel, verbatim shape
    def oldKernel(e: DataFrame, tables: Int, planes: Int,
                  weights: Seq[Seq[Seq[Int]]], thr: Double): DataFrame = {
      val tb = explode(array((0 until tables).map { t =>
        val code = (0 until planes).map { p =>
          when(projDot(weights(t)(p)) > 0, lit(1L << p)).otherwise(lit(0L))
        }.reduce(_ + _)
        struct(lit(t).as("t"), code.as("bkt"))
      }: _*))
      val b = e.select(col("vec_id"), col("ed"), tb.as("tb"))
        .select(col("vec_id"), col("ed"), col("tb.t").as("t"), col("tb.bkt").as("bkt"))
      b.as("a")
        .join(b.as("b"),
          col("a.t") === col("b.t") && col("a.bkt") === col("b.bkt")
            && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"),
          expr("cosine_similarity(a.ed, b.ed)").as("c"))
        .filter(col("c") >= thr - 1e-6)
        .select(col("doc_a"), col("doc_b"), round(col("c"), 6).as("cosine"))
        .filter(col("cosine") >= thr)
        .dropDuplicates("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")
    }
    def in(): DataFrame = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))

    // equality check once per geometry (tiny outputs on the real corpus)
    val oldN = oldKernel(in(), 12, 8, Similarity.widePlaneWeights, 0.95)
      .collect().toSeq
    val newN = Similarity.embeddingLshDedupWideFrom(in()).collect().toSeq
    graft.RunScope.releaseAll(blocking = true)
    require(oldN == newN, s"wide kernel outputs differ: $oldN vs $newN")
    println(s"[ab] wide outputs identical (${newN.size} rows)")

    var t: Double = 0
    // warm both paths
    noop(oldKernel(in(), 12, 8, Similarity.widePlaneWeights, 0.95))
    graft.RunScope.releaseAll(blocking = true)
    noop(Similarity.embeddingLshDedupWideFrom(in()))
    graft.RunScope.releaseAll(blocking = true)
    var oW = List.empty[Double]; var nW = List.empty[Double]
    var oN = List.empty[Double]; var nN = List.empty[Double]
    for (_ <- 1 to reps) {
      oW ::= measure("WIDE old (payload)")(
        noop(oldKernel(in(), 12, 8, Similarity.widePlaneWeights, 0.95)))
      nW ::= measure("WIDE new (slim)")(
        noop(Similarity.embeddingLshDedupWideFrom(in())))
      oN ::= measure("NARROW old (payload)")(
        noop(oldKernel(in(), 8, 6, Similarity.dedupPlaneWeights, 0.95)))
      nN ::= measure("NARROW new (slim)")(
        noop(Similarity.embeddingLshDedupFrom(in())))
    }
    println(f"[ab] summary: wide old min ${oW.min}%.2f → new ${nW.min}%.2f; " +
      f"narrow old min ${oN.min}%.2f → new ${nN.min}%.2f")
    spark.stop()
  }
}
