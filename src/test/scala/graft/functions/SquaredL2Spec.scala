package graft.functions

import org.apache.spark.sql.functions._

import graft.{GraftFunctions, SparkSpec, Tables}

class SquaredL2Spec extends SparkSpec {

  override def beforeAll(): Unit = GraftFunctions.registerAll(spark)

  test("native SquaredL2 equals the HOF zip_with fold bit-for-bit (float + double)") {
    val e = Tables.embeddings(spark, sfDir).limit(40)
    val a = e.select(col("vec_id").as("qa"), col("embedding").as("fa"))
      .withColumn("da", col("fa").cast("array<double>"))
    val b = e.select(col("vec_id").as("qb"), col("embedding").as("fb"))
      .withColumn("db", col("fb").cast("array<double>"))
    val pairs = a.crossJoin(b).filter(col("qa") < col("qb"))
    // the exact pre-r19 PQ spelling this kernel replaced
    def hof(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (u, v) =>
        (u.cast("double") - v.cast("double")) * (u.cast("double") - v.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
    val cmp = pairs.select(
      expr("squared_l2(fa, fb)").as("nat_ff"),
      expr("squared_l2(da, db)").as("nat_dd"),
      expr("squared_l2(fa, db)").as("nat_fd"),
      hof(col("fa"), col("fb")).as("hof_ff"),
      hof(col("da"), col("db")).as("hof_dd"))
    assert(cmp.filter(col("nat_ff") =!= col("hof_ff")).isEmpty)
    assert(cmp.filter(col("nat_dd") =!= col("hof_dd")).isEmpty)
    assert(cmp.filter(col("nat_fd") =!= col("hof_dd")).isEmpty)
  }

  test("identity distance is exactly zero; null element and length mismatch yield NULL") {
    import spark.implicits._
    val self = Tables.embeddings(spark, sfDir).limit(20)
      .select(expr("squared_l2(embedding, embedding)").as("d"))
    assert(self.filter(col("d") =!= 0.0).isEmpty, "d(x,x) must be exactly 0")
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 6.0)),
      (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),
      (3L, Seq[java.lang.Double](1.0), Seq[java.lang.Double](3.0, 4.0)))
      .toDF("id", "a", "b")
    val out = df.select(col("id"), expr("squared_l2(a, b)").as("d")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).contains(20.0)) // (1-3)^2 + (2-6)^2
    assert(out(2L).isEmpty && out(3L).isEmpty)
  }

}
