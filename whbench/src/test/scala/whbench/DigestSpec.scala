package whbench

import org.apache.spark.sql.functions._

class DigestSpec extends SparkFixture {
  import spark.implicits._

  private lazy val df = Seq((1L, "a", 0.5), (2L, "b", 1.25), (2L, "b", 1.25), (3L, null, -2.0))
    .toDF("k", "s", "x")

  test("reordering and repartitioning rows leaves the digest unchanged") {
    val d = Digest.of(df)
    assert(d.rows == 4)
    assert(Digest.of(df.orderBy(desc("k"))) == d)
    assert(Digest.of(df.repartition(3, col("x"))) == d)
  }

  test("a changed value or a dropped duplicate changes the digest") {
    val d = Digest.of(df)
    assert(Digest.of(df.withColumn("x", when(col("k") === 1, 0.75).otherwise(col("x")))) != d)
    assert(Digest.of(df.dropDuplicates()) != d)
  }

  test("floating-point noise in the last bits and negative zero are canonicalized") {
    val a = Seq((1, 0.1 + 0.2, 0.0)).toDF("k", "x", "z")
    val b = Seq((1, 0.3, -0.0)).toDF("k", "x", "z")
    assert(Digest.of(a) == Digest.of(b))
  }

  test("maps are compared by their entries, not their insertion order") {
    val a = Seq(1).toDF("k").select(map(lit("p"), lit(1.0), lit("q"), lit(2.0)).as("m"))
    val b = Seq(1).toDF("k").select(map(lit("q"), lit(2.0), lit("p"), lit(1.0)).as("m"))
    assert(Digest.of(a) == Digest.of(b))
  }

  test("the digest of a frame written as parquet and read back equals the frame's") {
    val dir = java.nio.file.Files.createTempDirectory("whbench-digest")
    val m = df.withColumn("m", map(col("k").cast("string"), col("x")))
    m.write.mode("overwrite").parquet(dir.resolve("out").toString)
    assert(Digest.of(spark.read.parquet(dir.resolve("out").toString)) == Digest.of(m))
    Main.deleteTree(dir)
  }

  test("the digest round-trips through its text form") {
    val d = Digest.of(df)
    assert(Digest.parse(d.toString) == d)
  }
}
