package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The loaders build their scan from a driver-side footer read: no Spark
  * job, and the schema `spark.read.parquet` would infer. */
class TablesSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("building every loader's DataFrame starts no Spark job") {
    val loaders = Seq[(SparkSession, String) => DataFrame](Tables.region, Tables.nation,
      Tables.customer, Tables.supplier, Tables.part, Tables.orders, Tables.lineitem,
      Tables.events, Tables.documents, Tables.embeddings)
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val schemas = loaders.map(_(spark, sfDir).schema)
      ListenerBusDrain(sc)
      assert(schemas.forall(_.nonEmpty))
      assert(jobs.get == 0, s"${jobs.get} jobs started while building ${loaders.size} loaders")
    } finally sc.removeSparkListener(listener)
  }

  test("footer schema equals parquet inference on every corpus table, nanosAsLong off and on") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    val testdata = new java.io.File(SparkSpec.gateDir).getParent
    val dirs = Seq(sfDir, SparkSpec.gateDir, s"$testdata/sf0.1", "whbench/corpus/sf0.1")
    val cases = for (nanosAsLong <- Seq("false", "true"); dir <- dirs; t <- tables)
      yield (nanosAsLong, s"$dir/$t.parquet")
    assert(cases.size == 80)
    try cases.foreach { case (nanosAsLong, path) =>
      spark.conf.set(key, nanosAsLong)
      assert(Tables.footerSchema(spark, path).contains(spark.read.parquet(path).schema),
        s"$path, nanosAsLong=$nanosAsLong")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a path without a data file keeps Spark's own error") {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec")
    try {
      assert(Tables.footerSchema(spark, dir.toString).isEmpty)
      assert(Tables.footerSchema(spark, s"$dir/missing").isEmpty)
      val e = intercept[org.apache.spark.sql.AnalysisException](
        Tables.table(spark, dir.toString, "missing"))
      assert(e.getMessage.contains("PATH_NOT_FOUND"))
    } finally java.nio.file.Files.delete(dir)
  }
}
