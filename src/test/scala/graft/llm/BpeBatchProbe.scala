package graft.llm

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.atomic.AtomicLong

/** Manual pricing probe for the batched BPE trainer (VERDICT r19 #7):
  * a deep train on the 25× organic corpus in both modes, recording
  * WALL TIME and SPARK JOB COUNT (the batching claim is jobs-saved —
  * each candidate-window collect is a job; top-K footprint-disjoint
  * commits per round divide the round count). Not run by the suite.
  *
  *   sbt "Test/runMain graft.llm.BpeBatchProbe sequential 256"
  *   sbt "Test/runMain graft.llm.BpeBatchProbe batched 256 16"
  *
  * Output-identity at depth is the spec's job (batched ≡ sequential,
  * proven in TextAnalysisSpec); here both modes print their first
  * merges' digest so the runs cross-check anyway. */
object BpeBatchProbe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("sequential")
    val merges = if (args.length > 1) args(1).toInt else 256
    val batchK = if (args.length > 2) args(2).toInt else 16
    val dir = if (args.length > 3) args(3) else "/tmp/sf25x0.1org"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.maxFields", "256")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    val docs = graft.Tables.spread(graft.Tables.documents(spark, dir))
    // warm the scan so both modes price the trainer, not the first read
    docs.count()
    val jobs0 = jobs.get()
    val t0 = System.nanoTime()
    val out = mode match {
      case "sequential" =>
        TextAnalysis.bpeTrainBatchedFrom(spark, docs, merges, batchK = 1).collect()
      case "batched" =>
        // rounds sized so K-sized commits cover the target even with
        // deferrals; the trainer stops early when the corpus dries up
        TextAnalysis.bpeTrainBatchedFrom(spark, docs,
          rounds = math.max(1, (merges + batchK - 1) / batchK + 8),
          batchK = batchK).collect()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val nJobs = jobs.get() - jobs0
    val learned = out.length
    val digest = out.take(32).mkString("|").hashCode
    println(f"[bpe-probe] mode=$mode target=$merges batchK=$batchK " +
      f"learned=$learned jobs=$nJobs wall=$wall%.1f s " +
      f"jobs/merge=${nJobs.toDouble / math.max(1, learned)}%.2f " +
      f"digest32=$digest")
    spark.stop()
  }
}
