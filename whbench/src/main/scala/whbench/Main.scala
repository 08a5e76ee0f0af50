package whbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.RunScope
import whbench.Stats.Span

/** Counts Spark's "replaced a previously registered function" warnings:
  * each is a native-function registration repeated in one session. */
object Registrations extends AbstractAppender("whbench-registrations", null, null, true,
    Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  private val LoggerName = "org.apache.spark.sql.catalyst.analysis"

  override def append(e: LogEvent): Unit =
    if (e.getMessage.getFormattedMessage.contains("replaced a previously registered function"))
      count.incrementAndGet()

  def install(): Unit = synchronized {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    if (!isStarted) start()
    if (!cfg.getLoggers.containsKey(LoggerName)) {
      val lc = new LoggerConfig(LoggerName, Level.WARN, false)
      lc.addAppender(this, Level.WARN, null)
      cfg.addLogger(LoggerName, lc)
      ctx.updateLoggers()
    }
  }
}

/** The warehouse benchmark's JVM side. One client thread runs one workload
  * as a closed loop of whole passes over its steps, each pass over a freshly
  * staged input path; it times every call in two parts, building the
  * DataFrame and running its action, and checks every output against its
  * golden digest outside the timed region.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --base DIR
  * --work DIR --goldens FILE --result FILE
  */
object Main {
  /** Cores of the local master: the 4-core reference host, never more than
    * the machine has. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  /** Generated corpora kept on disk for reuse by later runs. */
  val KeptCorpora = 4

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        base: Path, work: Path, goldens: Path, result: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("base")), Paths.get(need("work")), Paths.get(need("goldens")),
      Paths.get(need("result")))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val s = Files.list(p)
        try s.iterator().asScala.toList.foreach(deleteTree) finally s.close()
      }
      Files.delete(p)
    }

  /** Bytes of the regular files under `p`, following a top-level link. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p.toRealPath())
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs(): Long = baseEpochNs + (System.nanoTime() - baseNano)

  def newSession(runDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("whbench")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.maxFields", "256")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toAbsolutePath.toString)
      .config("spark.local.dir", runDir.resolve("local").toAbsolutePath.toString)
      .getOrCreate()
    Registrations.install()
    spark.range(1).count()
    spark
  }

  final case class Call(step: Step, iteration: Int, buildS: Double, runS: Double,
                        error: Option[String], var digest: Option[Digest.Value] = None,
                        var mismatch: Option[String] = None) {
    def failed: Boolean = error.isDefined || mismatch.isDefined
    def latency: Double = buildS + runS
  }

  /** One pass. `seconds` and `cpuSeconds` leave out the output checks,
    * which `checkSeconds` counts. */
  final case class Iteration(index: Int, traced: Boolean, seconds: Double, cpuSeconds: Double,
                             checkSeconds: Double, calls: Seq[Call], storedBytes: Long,
                             retainedMb: Double, cacheMb: Double)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Steps.workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val runDir = a.work.resolve("runs").resolve(s"${a.workload}-s${a.seed}-${ProcessHandle.current().pid()}")
    deleteTree(runDir)
    Files.createDirectories(runDir)

    val spark = newSession(runDir)
    // process start until the session has run its first job
    val setupS = System.currentTimeMillis() / 1e3 - jvmStartMs / 1e3
    val corpusRoot = a.work.resolve("corpus")
    val corpus = corpusRoot.resolve(s"s${a.seed}-x${wl.copies}-${wl.corpusTables.mkString("-")}")
    val g0 = System.nanoTime()
    val generated = Corpus.generate(spark, a.base.toString, corpus, wl.corpusTables, wl.copies, a.seed)
    val genS = (System.nanoTime() - g0) / 1e9
    keepNewest(corpusRoot, corpus, KeptCorpora)

    val rows = Corpus.rows(corpus)
    val inputRows = wl.inputTables.map(rows).sum
    val inputBytes = Corpus.bytes(corpus, wl.inputTables)
    val goldens = Goldens.load(a.goldens)
    val probe = if (a.trace) Some(new Probe) else None
    val spans = mutable.ArrayBuffer.empty[Span]
    var nextSpan = 0

    def runIteration(k: Int, traced: Boolean): Iteration = {
      val sc = spark.sparkContext
      val iterDir = runDir.resolve(s"iter-$k")
      val in = Corpus.stage(corpus, iterDir.resolve("in"))
      val out = iterDir.resolve("out")
      if (traced) probe.foreach(sc.addSparkListener)
      val iterSpan = { nextSpan += 1; nextSpan }
      val it0 = nowNs()
      val cpu0 = os.getProcessCpuTime
      var checkNs = 0L
      var checkCpuNs = 0L
      val calls = wl.steps.map { st =>
        val callSpan = { nextSpan += 1; nextSpan }
        val buildSpan = { nextSpan += 1; nextSpan }
        val actionSpan = { nextSpan += 1; nextSpan }
        sc.setLocalProperty(Probe.CallKey, callSpan.toString)
        sc.setLocalProperty(Probe.SpanKey, buildSpan.toString)
        val c0 = nowNs()
        var b1 = c0
        var error: Option[String] = None
        var frame: Option[DataFrame] = None
        val path = out.resolve(st.name).toString
        try {
          val df = st.build(spark, in)
          b1 = nowNs()
          sc.setLocalProperty(Probe.SpanKey, actionSpan.toString)
          if (st.stored) df.write.mode("overwrite").parquet(path)
          else df.write.format("noop").mode("overwrite").save()
          frame = Some(df)
        } catch { case NonFatal(e) =>
          if (b1 == c0) b1 = nowNs()
          error = Some(describe(e))
        }
        val c1 = nowNs()
        sc.setLocalProperty(Probe.CallKey, null)
        sc.setLocalProperty(Probe.SpanKey, null)
        // The output check runs off the clock, before the call's scope is
        // released: the digest of the stored file, or of the read run again.
        val kc0 = os.getProcessCpuTime
        val digest = frame.map(df => Try(Digest.of(if (st.stored) spark.read.parquet(path) else df)))
        checkCpuNs += os.getProcessCpuTime - kc0
        checkNs += nowNs() - c1
        RunScope.releaseAll(blocking = true)
        if (traced) {
          spans += Span(callSpan, iterSpan, "call", st.name, st.layer, k, c0, c1)
          spans += Span(buildSpan, callSpan, "build", st.name, st.layer, k, c0, b1)
          spans += Span(actionSpan, callSpan, "action", st.name, st.layer, k, b1, c1)
        }
        Call(st, k, (b1 - c0) / 1e9, (c1 - b1) / 1e9, error, digest.flatMap(_.toOption),
          digest.flatMap(_.failed.toOption).map(e => s"output check failed: ${describe(e)}"))
      }
      val it1 = nowNs()
      val cpu1 = os.getProcessCpuTime
      if (traced) {
        ListenerBusDrain(sc)
        probe.foreach(sc.removeSparkListener)
        spans += Span(iterSpan, -1, "iteration", wl.name, "", k, it0, it1)
      }
      val stored = treeBytes(out) + treeBytes(runDir.resolve("warehouse"))
      deleteTree(iterDir)
      System.gc()
      val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      val cacheMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
      Iteration(k, traced, (it1 - it0 - checkNs) / 1e9, (cpu1 - cpu0 - checkCpuNs) / 1e9,
        checkNs / 1e9, calls, stored, mem, cacheMb)
    }

    // Closed loop of whole iterations until `seconds` are measured. The
    // first iteration runs in the session just set up, as a batch job does.
    val iterations = mutable.ArrayBuffer.empty[Iteration]
    while (iterations.map(_.seconds).sum < a.seconds)
      iterations += runIteration(iterations.length + 1, a.trace)

    // digests against iteration 1 and the goldens
    val allCalls = iterations.flatMap(_.calls)
    val first = mutable.Map.empty[String, Digest.Value]
    allCalls.filter(!_.failed).foreach { c =>
      c.digest.foreach { d =>
        first.get(c.step.name) match {
          case Some(f) if f != d => c.mismatch = Some(s"digest $d differs from iteration 1's $f")
          case Some(_) =>
          case None =>
            first(c.step.name) = d
            c.mismatch = goldens.check(wl.name, c.step.name, d)
        }
      }
    }
    spark.stop()

    val latencies = allCalls.map(_.latency).toSeq
    val iterSum = iterations.map(_.seconds).sum
    val failed = allCalls.count(_.failed)
    val attempted = allCalls.length
    val tail = if (latencies.length > Stats.TailMargin) Some(Stats.tail(latencies)) else None
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("ok_frac", 1.0 - failed.toDouble / attempted, "frac"),
      ("input_rows_per_s", inputRows * iterations.length / iterSum, "rows/s"),
      ("stored_bytes_ratio", Stats.median(iterations.map(_.storedBytes.toDouble / inputBytes).toSeq), "ratio"),
      ("pass_cpu_s", Stats.median(iterations.map(_.cpuSeconds).toSeq), "s"))

    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> a.seed, "cores" -> Cores, "copies" -> wl.copies,
      "input_rows" -> inputRows, "input_bytes" -> inputBytes, "corpus_rows" -> rows,
      "corpus_generated" -> generated, "corpus_gen_s" -> genS, "setup_s" -> setupS,
      "iterations" -> iterations.map(i => Map("index" -> i.index, "traced" -> i.traced,
        "seconds" -> i.seconds, "cpu_s" -> i.cpuSeconds, "check_s" -> i.checkSeconds,
        "stored_bytes" -> i.storedBytes,
        "retained_mb" -> i.retainedMb, "cache_mb" -> i.cacheMb)).toSeq,
      "samples" -> latencies.length, "op_p50_s" -> Stats.median(latencies),
      "tail_s" -> tail.map(_._1), "tail_percentile" -> tail.map(_._2),
      "failures" -> allCalls.filter(_.failed).map(c =>
        s"${c.step.name}@${c.iteration}: ${c.error.orElse(c.mismatch).get}").distinct.toSeq,
      "call_medians_s" -> allCalls.groupBy(_.step.name).map { case (n, cs) =>
        n -> Stats.median(cs.map(_.latency).toSeq) }.toSeq.sortBy(-_._2).toMap)

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) e2e
      else {
        probe.foreach(_.settle())
        val (layerMetrics, selfTimes) = Trace.layerMetrics(probe.get, iterations.toSeq, spans.toSeq, Cores)
        info("self_time_s") = selfTimes
        Trace.writeSpans(a.work.resolve("traces").resolve(s"${wl.name}-s${a.seed}.json"),
          spans.toSeq, probe.get, selfTimes)
        layerMetrics ++ Seq(
          ("jvm.retained_mb", iterations.last.retainedMb, "MB"),
          ("cache.blocks_mb", iterations.last.cacheMb, "MB"),
          ("graft.fn_registrations", Registrations.count.get.toDouble / iterations.length, "count"),
          ("corpus.gen_s", genS, "s"),
          ("trace.pass_s", Stats.median(iterations.map(_.seconds).toSeq), "s"))
      }
    deleteTree(runDir)

    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "info" -> info)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.createDirectories(a.result.toAbsolutePath.getParent)
    Files.write(a.result, json.writerWithDefaultPrettyPrinter().writeValueAsBytes(result))
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Removes all but the `keep` most recently used corpora under `root`. */
  private def keepNewest(root: Path, current: Path, keep: Int): Unit = {
    Files.setLastModifiedTime(current, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    val s = Files.list(root)
    val dirs = try s.iterator().asScala.toList finally s.close()
    dirs.sortBy(d => -Files.getLastModifiedTime(d).toMillis).drop(keep).foreach(deleteTree)
  }
}
