package whbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Seeded corpus generator: `copies` key-shifted copies of the sf0.1 base
  * corpus, the Spark counterpart of the repository's DuckDB scale script in
  * its organic mode. Key strides are the script's; copy 0 keeps the base
  * text and vectors, and every later copy is made unique and free of
  * near-duplicates: each word gets a per-copy tag, and each embedding is
  * rotated by `copy mod 64` places with a per-copy sign mask applied.
  *
  * The seed picks the word tags, the sign masks and the row order inside
  * every written file. Each copy is written as one parquet file (so the
  * sf0.1 layout of one file per table is kept at one copy), and every
  * table's row count is checked against `copies` times the base count. */
object Corpus {

  val Static = Seq("region", "nation")
  val Scaled = Seq("customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")
  val All: Seq[String] = Static ++ Scaled

  val Stride: Map[String, Long] = Map("cust" -> 20000L, "supp" -> 2000L,
    "part" -> 30000L, "ord" -> 200000L, "doc" -> 10000L, "vec" -> 5000L,
    "evt" -> 200000L, "user" -> 10000L)
  val Dim = 64
  private val Marker = "_WHBENCH_ROWS"

  /** Four-digit word tags, one per copy after the first, distinct. */
  def wordTags(seed: Long, copies: Int): IndexedSeq[String] = {
    val r = new scala.util.Random(seed)
    Iterator.continually(1000 + r.nextInt(9000)).distinct.take(math.max(0, copies - 1))
      .map(t => s"_$t").toIndexedSeq
  }

  /** The sign mask of copy `i`: bit j of sha256(seed, i) picks dim j's sign. */
  def signMask(seed: Long, i: Int): IndexedSeq[Float] = {
    val h = MessageDigest.getInstance("SHA-256").digest(s"whbench-organic-$seed-$i".getBytes("UTF-8"))
    (0 until Dim).map(j => if (((h(j / 8) >> (j % 8)) & 1) == 1) 1f else -1f)
  }

  private def copyOf(spark: SparkSession, base: String, table: String, i: Int,
                     tags: IndexedSeq[String], seed: Long): DataFrame = {
    def s(k: String) = lit(i * Stride(k))
    val t = Tables.table(spark, base, table)
    table match {
      case "customer" => t.withColumn("c_custkey", col("c_custkey") + s("cust"))
          .withColumn("c_name", if (i == 0) col("c_name") else concat(col("c_name"), lit(s"_$i")))
      case "supplier" => t.withColumn("s_suppkey", col("s_suppkey") + s("supp"))
          .withColumn("s_name", if (i == 0) col("s_name") else concat(col("s_name"), lit(s"_$i")))
      case "part" => t.withColumn("p_partkey", col("p_partkey") + s("part"))
      case "orders" => t.withColumn("o_orderkey", col("o_orderkey") + s("ord"))
          .withColumn("o_custkey", col("o_custkey") + s("cust"))
      case "lineitem" => t.withColumn("l_orderkey", col("l_orderkey") + s("ord"))
          .withColumn("l_partkey", col("l_partkey") + s("part"))
          .withColumn("l_suppkey", col("l_suppkey") + s("supp"))
      case "events" => Tables.events(spark, base)
          .withColumn("event_id", col("event_id") + s("evt"))
          .withColumn("user_id", col("user_id") + s("user"))
      case "documents" =>
        val text = if (i == 0) col("text") else concat_ws(" ",
          transform(split(trim(col("text")), "\\s+"), w => concat(w, lit(tags(i - 1)))))
        t.withColumn("doc_id", col("doc_id") + s("doc")).withColumn("text", text)
          .withColumn("n_chars", length(col("text")).cast("bigint"))
      case "embeddings" =>
        val k = i % Dim
        val rotated = if (k == 0) col("embedding")
          else concat(slice(col("embedding"), k + 1, Dim - k), slice(col("embedding"), 1, k))
        val signed = if (i == 0) rotated else zip_with(rotated,
          array(signMask(seed, i).map(lit): _*), (x, m) => (x * m).cast("float"))
        t.withColumn("vec_id", col("vec_id") + s("vec")).withColumn("embedding", signed)
      case _ => t
    }
  }

  /** Rows of every table in a generated corpus, read from its marker. */
  def rows(dir: Path): Map[String, Long] =
    Files.readAllLines(dir.resolve(Marker)).asScala
      .map(_.split("\t")).map(a => a(0) -> a(1).toLong).toMap

  /** Generates `tables` into `out`, linking every other table to the base
    * corpus, unless a complete corpus is already there; returns whether it
    * was generated. The copies are written by concurrent jobs, each to a
    * scratch directory its file is moved out of. */
  def generate(spark: SparkSession, base: String, out: Path, tables: Seq[String], copies: Int,
               seed: Long): Boolean = {
    if (Files.exists(out.resolve(Marker))) return false
    Main.deleteTree(out)
    Files.createDirectories(out)
    All.filterNot(tables.contains).foreach { t =>
      Files.createSymbolicLink(out.resolve(s"$t.parquet"), Paths.get(base, s"$t.parquet").toAbsolutePath)
    }
    val scratch = out.resolve("_scratch")
    val tags = wordTags(seed, copies)
    val jobs = tables.flatMap(t => (0 until (if (Static.contains(t)) 1 else copies)).map(i => (t, i)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
    try {
      val done = jobs.map { case (table, i) => pool.submit(new Runnable { def run(): Unit = {
        val t0 = System.nanoTime()
        val df = copyOf(spark, base, table, i, tags, seed)
        val tmp = scratch.resolve(s"$table-$i")
        df.coalesce(1)
          .sortWithinPartitions(xxhash64(lit(seed) +: df.columns.toSeq.map(c => col(c)): _*))
          .write.parquet(tmp.toString)
        val dir = Files.createDirectories(out.resolve(s"$table.parquet"))
        val listing = Files.list(tmp)
        val part = try listing.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
          finally listing.close()
        require(part.length == 1, s"$table copy $i wrote ${part.length} files")
        Files.move(part.head, dir.resolve(f"part-$i%05d.parquet"))
        System.err.println(f"generated $table copy $i in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }}) }
      done.foreach(_.get())
    } finally pool.shutdown()
    Main.deleteTree(scratch)
    val counts = All.map { table =>
      val n = if (Static.contains(table) || !tables.contains(table)) 1 else copies
      val want = n * Tables.table(spark, base, table).count()
      val got = Tables.table(spark, out.toString, table).count()
      require(got == want, s"generated $table has $got rows, expected $want")
      table -> got
    }
    Files.write(out.resolve(Marker), counts.map { case (t, n) => s"$t\t$n" }.mkString("\n").getBytes("UTF-8"))
    true
  }

  /** A fresh directory of links to the corpus tables: each iteration reads
    * its inputs through a path no earlier iteration used. */
  def stage(corpus: Path, dir: Path): String = {
    Files.createDirectories(dir)
    All.foreach { t =>
      Files.createSymbolicLink(dir.resolve(s"$t.parquet"), corpus.toAbsolutePath.resolve(s"$t.parquet"))
    }
    dir.toString
  }

  def bytes(corpus: Path, tables: Seq[String]): Long =
    tables.map(t => Main.treeBytes(corpus.resolve(s"$t.parquet"))).sum
}
