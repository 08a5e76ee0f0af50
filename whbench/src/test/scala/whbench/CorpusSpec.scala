package whbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

class CorpusSpec extends SparkFixture {
  private val base = "corpus/sf0.1"
  private val work = Paths.get("target", "corpus-spec")
  private val tables = Seq("region", "supplier", "documents", "embeddings")

  private def gen(name: String, copies: Int, seed: Long) = {
    val out = work.resolve(name)
    Main.deleteTree(out)
    assert(Corpus.generate(spark, base, out, tables, copies, seed))
    out
  }

  test("row counts are the copy count times sf0.1 for scaled tables, once for the rest") {
    val out = gen("x3", 3, 7L)
    val rows = Corpus.rows(out)
    Corpus.All.foreach { t =>
      val baseRows = spark.read.parquet(s"$base/$t.parquet").count()
      val copies = if (tables.contains(t) && Corpus.Scaled.contains(t)) 3 else 1
      assert(rows(t) == copies * baseRows, t)
      assert(spark.read.parquet(out.resolve(s"$t.parquet").toString).count() == rows(t), t)
    }
    assert(!Corpus.generate(spark, base, out, tables, 3, 7L), "a complete corpus is reused")
  }

  test("later copies are new documents and vectors of the same shape") {
    val out = gen("x2", 2, 7L)
    val docs = spark.read.parquet(out.resolve("documents.parquet").toString)
    val ids = docs.select((col("doc_id") / Corpus.Stride("doc")).cast("int").as("copy"), col("text"))
    assert(ids.select("text").distinct().count() > spark.read.parquet(s"$base/documents.parquet")
      .select("text").distinct().count())
    val tag = Corpus.wordTags(7L, 2).head
    assert(ids.filter(col("copy") === 1).filter(length(col("text")) > 0)
      .filter(!col("text").endsWith(tag)).count() == 0)
    val norms = spark.read.parquet(out.resolve("embeddings.parquet").toString)
      .select((col("vec_id") % Corpus.Stride("vec")).as("v"),
        aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x * x).as("n2"))
      .groupBy("v").agg(min("n2").as("lo"), max("n2").as("hi"))
    assert(norms.filter(abs(col("hi") - col("lo")) > lit(1e-3) * col("hi")).count() == 0)
  }

  test("the seed picks the row order, not the rows") {
    val a = gen("s1", 1, 1L)
    val b = gen("s2", 1, 2L)
    val ra = spark.read.parquet(a.resolve("documents.parquet").toString)
    val rb = spark.read.parquet(b.resolve("documents.parquet").toString)
    assert(Digest.of(ra) == Digest.of(rb))
    assert(ra.select("doc_id").head(20).toSeq != rb.select("doc_id").head(20).toSeq)
    assert(Digest.of(ra) == Digest.of(spark.read.parquet(s"$base/documents.parquet")))
  }

  test("staging links every table under a fresh directory") {
    val out = gen("stage", 1, 3L)
    val dir = work.resolve("staged")
    Main.deleteTree(dir)
    val in = Corpus.stage(out, dir)
    Corpus.All.foreach(t => assert(Files.isSymbolicLink(Paths.get(in, s"$t.parquet")), t))
    assert(spark.read.parquet(s"$in/documents.parquet").count() == Corpus.rows(out)("documents"))
  }
}
