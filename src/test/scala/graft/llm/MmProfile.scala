package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Manual in-JVM alternated A/B for the r22 §11 native perceptual
  * kernels (hex_words / dhash_bits / moving_energy vs the interpreted
  * HOF formulations they replaced); not run by the suite.
  * `sbt "Test/runMain graft.llm.MmProfile <sfDir> [reps]"`.
  * Asserts identical fingerprint outputs before timing; times the
  * decode+fingerprint scans under both shapes and the three full
  * registered entries under the committed shape. */
object MmProfile {
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
      println(f"[mm] $label%-28s ${dt}%6.2f s")
      dt
    }

    // pre-r22 HOF formulations, verbatim
    def hofHexWords(h: Column, width: Int, n: Int, signed: Boolean): Column =
      transform(sequence(lit(0), lit(n - 1)), i => {
        val raw = conv(h.substr(i * width + 1, lit(width)), 16, 10).cast("int")
        if (!signed) raw
        else when(raw >= (1 << (4 * width - 1)), raw - (1 << (4 * width)))
          .otherwise(raw)
      })
    def hofDhash(arr: Column): Column =
      aggregate(
        zip_with(slice(arr, 1, 60), slice(arr, 2, 60),
          (a, b) => when(a > b, lit(1L)).otherwise(lit(0L))),
        struct(lit(0L).as("s"), lit(1L).as("p")),
        (acc, bit) => struct(
          (acc.getField("s") + bit * acc.getField("p")).as("s"),
          (acc.getField("p") * 2).as("p")),
        acc => acc.getField("s"))
    def hofEnvelope(sm: Column): Column = {
      val sq = transform(sm, x => x.cast("long") * x.cast("long"))
      def sl(off: Int) = slice(sq, off, 61)
      zip_with(zip_with(sl(1), sl(2), _ + _), zip_with(sl(3), sl(4), _ + _), _ + _)
    }
    def videoHex: Column = concat(
      md5(col("text")), md5(concat(col("text"), lit("x"))),
      md5(concat(col("text"), lit("y"))), md5(concat(col("text"), lit("z"))))
    def audioHex: Column = concat(
      md5(col("text")) +: "abcdefg".map(c =>
        md5(concat(col("text"), lit(c.toString)))): _*)

    def mediaFpOld(): DataFrame = {
      val g = Tables.spread(Tables.documents(spark, dir))
        .withColumn("h", videoHex)
        .select(col("doc_id"), hofHexWords(col("h"), 2, 64, false).as("grid"))
      val lib = g.select(col("doc_id").as("media_id"), col("grid"))
        .unionAll(g.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 10000000L).as("media_id"),
            transform(col("grid"), b => least(b + 4, lit(255))).as("grid")))
      lib.select(col("media_id"), hofDhash(col("grid")).as("fp"))
    }
    def mediaFpNew(): DataFrame =
      Multimodal.mediaLibrary(spark, dir)
        .select(col("media_id"), Multimodal.dhashCol(col("grid")).as("fp"))
    def audioFpOld(): DataFrame = {
      val s = Tables.spread(Tables.documents(spark, dir))
        .select(col("doc_id"), hofHexWords(audioHex, 4, 64, true).as("sm"))
      val lib = s.select(col("doc_id").as("media_id"), col("sm"))
        .unionAll(s.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 10000000L).as("media_id"),
            transform(col("sm"), x => x - pmod(x, lit(64))).as("sm")))
      lib.select(col("media_id"), hofDhash(hofEnvelope(col("sm"))).as("fp"))
    }
    def audioFpNew(): DataFrame =
      Multimodal.audioLibrary(spark, dir)
        .select(col("media_id"),
          Multimodal.dhashCol(Multimodal.audioEnvelope(col("sm"))).as("fp"))

    val a = mediaFpOld().orderBy("media_id").collect().toSeq
    val b = mediaFpNew().orderBy("media_id").collect().toSeq
    require(a == b, s"media fingerprints differ: ${a.size} vs ${b.size}")
    val c = audioFpOld().orderBy("media_id").collect().toSeq
    val d = audioFpNew().orderBy("media_id").collect().toSeq
    require(c == d, s"audio fingerprints differ: ${c.size} vs ${d.size}")
    println(s"[mm] outputs identical (${a.size} media, ${c.size} audio fps)")

    noop(mediaFpOld()); noop(mediaFpNew())
    var mo = List.empty[Double]; var mn = List.empty[Double]
    var ao = List.empty[Double]; var an = List.empty[Double]
    for (r <- 1 to reps) {
      mo ::= measure("media fp OLD (HOF)")(noop(mediaFpOld()))
      mn ::= measure("media fp NEW (native)")(noop(mediaFpNew()))
      ao ::= measure("audio fp OLD (HOF)")(noop(audioFpOld()))
      an ::= measure("audio fp NEW (native)")(noop(audioFpNew()))
      measure("media_near_dedup e2e NEW")(noop(Multimodal.mediaNearDedup(spark, dir)))
      measure("audio_near_dedup e2e NEW")(noop(Multimodal.audioNearDedup(spark, dir)))
      measure("media_near_apply e2e NEW")(noop(Multimodal.mediaNearApply(spark, dir)))
    }
    println(f"[mm] summary: media fp min ${mo.min}%.2f → ${mn.min}%.2f; " +
      f"audio fp min ${ao.min}%.2f → ${an.min}%.2f")
    spark.stop()
  }
}
