package graft.llm

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.reflect.io.Directory

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{RunScope, SparkSpec, Tables}

/** A corpus rewritten in place inside one session is answered from its
  * new bytes: the entries that train a model or build cluster labels do
  * so inside their own call, so nothing trained on the old file can leak
  * into a later call on the same path. Each test runs an entry on a copy
  * of the spec corpus, overwrites that copy with a subset, runs the entry
  * again, and compares with the same entry on a fresh dir that only ever
  * held the subset. Entries are released between calls the way Bench and
  * Verify release them. */
class RewrittenCorpusSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Row] = {
    try df.collect().toSeq
    finally RunScope.releaseAll()
  }

  /** The subset: every dedup cluster loses its canonical member (so the
    * next-lowest member becomes canonical), and every fifth unclustered
    * document goes too (so the features move). */
  private def subsetOf(docs: DataFrame): DataFrame = {
    val clusters = Dedup.dedupClusters(spark, sfDir)
    docs.join(clusters.select("doc_id", "is_canonical"), Seq("doc_id"), "left")
      .filter(!coalesce(col("is_canonical"), col("doc_id") % 5 === 0))
      .select(docs.columns.map(col): _*)
  }

  /** Runs `check(stale, fresh)` with `stale` a dir whose documents were
    * rewritten after `warm` ran on them and `fresh` a dir that only ever
    * held the rewritten documents. */
  private def withRewrittenCorpus(warm: String => Unit)(check: (String, String) => Unit): Unit = {
    val root = Files.createTempDirectory("graft_rewrite_")
    try {
      val src = Paths.get(sfDir, "documents.parquet")
      val stale = Files.createDirectory(root.resolve("stale"))
      val fresh = Files.createDirectory(root.resolve("fresh"))
      Files.copy(src, stale.resolve("documents.parquet"))
      warm(stale.toString)
      val written = root.resolve("subset").toFile
      subsetOf(Tables.documents(spark, sfDir)).coalesce(1).write.parquet(written.toString)
      val part = written.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
      Files.copy(part, stale.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
      Files.copy(part, fresh.resolve("documents.parquet"))
      check(stale.toString, fresh.toString)
    } finally new Directory(root.toFile).deleteRecursively()
  }

  test("quality_lr_score on a rewritten corpus equals the score on a fresh dir") {
    withRewrittenCorpus(dir => rows(QualityLr.qualityLrScore(spark, dir))) { (stale, fresh) =>
      val before = QualityLr.trainWeightsFrom(QualityLr.featFrame(spark, sfDir))
      val after = QualityLr.trainWeightsFrom(QualityLr.featFrame(spark, fresh))
      RunScope.releaseAll()
      assert(before != after, "the subset must move the trained weights")
      assert(rows(QualityLr.qualityLrScore(spark, stale)) ==
        rows(QualityLr.qualityLrScore(spark, fresh)))
    }
  }

  test("dedup_apply on a rewritten corpus equals the apply on a fresh dir") {
    withRewrittenCorpus(dir => rows(Dedup.dedupApply(spark, dir))) { (stale, fresh) =>
      def canonicals(dir: String) = rows(Dedup.dedupClusters(spark, dir)
        .filter(col("is_canonical")).select("doc_id")).map(_.getLong(0)).toSet
      val moved = canonicals(fresh) -- canonicals(sfDir)
      assert(moved.nonEmpty, "the subset must give some cluster a new canonical id")
      assert(rows(Dedup.dedupApply(spark, stale)) == rows(Dedup.dedupApply(spark, fresh)))
    }
  }
}
