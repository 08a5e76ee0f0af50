package graft.functions

import org.apache.spark.sql.functions._

import graft.{GraftFunctions, SparkSpec, Tables}

class PolyHashSpec extends SparkSpec {

  override def beforeAll(): Unit = GraftFunctions.registerAll(spark)

  test("native poly_hash equals the interpreted HOF fold on the corpus") {
    val d = Tables.documents(spark, sfDir)
      .withColumn("norm", lower(regexp_replace(col("text"), "\\s+", " ")))
    val cmp = d.select(
      expr("poly_hash(norm)").as("native"),
      expr("""aggregate(
               transform(sequence(1, length(norm)),
                         i -> CAST(ascii(substr(norm, i, 1)) AS BIGINT)),
               CAST(0 AS BIGINT),
               (acc, c) -> (acc * 31 + c) % 1000000007)""").as("hof"))
    assert(cmp.filter(col("native") =!= col("hof")).isEmpty)
  }

  test("poly_hash known values") {
    import spark.implicits._
    val r = Seq("", "a", "ab").toDF("s")
      .select(expr("poly_hash(s)").as("h")).collect().map(_.getLong(0))
    assert(r(0) == 0L)
    assert(r(1) == 'a'.toLong)               // 97
    assert(r(2) == ('a'.toLong * 31 + 'b'))  // 3069
  }
}
