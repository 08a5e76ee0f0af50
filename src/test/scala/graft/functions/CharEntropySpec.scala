package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.{GraftFunctions, SparkSpec}

class CharEntropySpec extends SparkSpec {

  override def beforeAll(): Unit = GraftFunctions.registerAll(spark)

  test("char_entropy matches closed-form values on known alphabets") {
    import spark.implicits._
    val got = Seq(
      "aaaa",      // single symbol -> 0 bits
      "abab",      // uniform 2-symbol -> 1 bit
      "abcdabcd",  // uniform 4-symbol -> 2 bits
      "",          // empty -> 0 by convention
      "aab"        // p = (2/3, 1/3)
    ).toDF("s").select(expr("char_entropy(s)").as("h")).as[Double].collect()
    assert(got(0) == 0.0)
    assert(math.abs(got(1) - 1.0) < 1e-12)
    assert(math.abs(got(2) - 2.0) < 1e-12)
    assert(got(3) == 0.0)
    val p = Seq(2.0 / 3, 1.0 / 3)
    val want = -p.map(x => x * math.log(x) / math.log(2)).sum
    assert(math.abs(got(4) - want) < 1e-12)
  }

  test("kernel, codegen plan, and supplementary code points agree") {
    import spark.implicits._
    // U+1D400 is outside the BMP: two UTF-16 chars, ONE code point —
    // "𝐀a" must count 2 symbols, not 3.
    val inputs = Seq("𝐀a", "mixed bag of text", "aa bb cc")
    val kernel = inputs.map(s => CharEntropy.compute(UTF8String.fromString(s)))
    val viaPlan = inputs.toDF("s")
      .select(expr("char_entropy(s)").as("h")).as[Double].collect().toSeq
    assert(kernel == viaPlan)
    assert(math.abs(kernel.head - 1.0) < 1e-12) // two equiprobable symbols
    val nulls = Seq[Option[String]](None).toDF("s")
      .select(expr("char_entropy(s)").as("h")).collect()
    assert(nulls.head.isNullAt(0))
  }

  test("registry entry covers every doc with entropy in [0, log2(alphabet)]") {
    val e = graft.llm.TextAnalysis.charEntropy(spark, sfDir).cache()
    assert(e.count() == graft.Tables.documents(spark, sfDir).count())
    val bad = e.filter(col("char_entropy") < 0 ||
      col("char_entropy") > log2(col("distinct_chars").cast("double")) + lit(1e-9))
    assert(bad.isEmpty)
  }
}
