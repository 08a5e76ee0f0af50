package whbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.ExecutionEndPlan
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Counters of one benchmark call, filled from Spark's listener events. */
final class CallCounters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
  val op: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
}

/** The traced mode's listener: jobs and tasks from the scheduler events,
  * planning time and the executed plans' SQL metrics from the query
  * execution each SQL execution-end event carries. The client thread tags
  * every job with the call that ran it (local property [[Probe.CallKey]])
  * and the build or action span it ran in ([[Probe.SpanKey]]); a SQL
  * execution belongs to the call its jobs belong to. Events arrive on the
  * listener bus, so results are read only after the bus has drained. */
final class Probe extends SparkListener {
  import Probe._

  val calls: mutable.Map[Int, CallCounters] = mutable.Map.empty
  /** (job id, call, parent span, start ms, end ms) */
  val jobs: mutable.Map[Int, (Int, Int, Long, Long)] = mutable.Map.empty
  private val stageCall = mutable.Map.empty[Int, Int]
  private val executionCall = mutable.Map.empty[Long, Int]
  private val pendingPlans = mutable.ArrayBuffer.empty[(Long, Long, Map[String, Double])]

  private def counters(call: Int) = calls.getOrElseUpdate(call, new CallCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val call = p.flatMap(x => Option(x.getProperty(CallKey))).map(_.toInt).getOrElse(-1)
    val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
    p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).foreach(id => executionCall(id.toLong) = call)
    e.stageIds.foreach(s => stageCall(s) = call)
    jobs(e.jobId) = (call, span, e.time, e.time)
    counters(call).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (c, s, t0, _) => jobs(e.jobId) = (c, s, t0, e.time) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(stageCall.getOrElse(e.stageId, -1))
      val info = e.taskInfo
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      val overhead = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime +
        info.gettingResultTime
      c.waitMs += m.executorDeserializeTime + math.max(0L, info.duration - overhead)
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd => ExecutionEndPlan(e).foreach { qe =>
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      val ops = operatorMetrics(qe.executedPlan)
      synchronized { pendingPlans += ((e.executionId, planMs, ops)) }
    }
    case _ =>
  }

  /** Attributes plan-level numbers to calls; call after the bus drained. */
  def settle(): Unit = synchronized {
    pendingPlans.foreach { case (id, planMs, ops) =>
      val c = counters(executionCall.getOrElse(id, -1))
      c.planMs += planMs
      ops.foreach { case (k, v) => c.op(k) += v }
    }
    pendingPlans.clear()
  }
}

object Probe {
  val CallKey = "whbench.call"
  val SpanKey = "whbench.span"

  /** Operator metric names reported as `op.*`. */
  val OpMetrics = Seq("scan_s", "scan_mb", "exchange_mb", "join_build_s", "broadcast_s",
    "agg_s", "sort_s", "codegen_s", "spill_mb")

  private def inner(p: SparkPlan): Seq[SparkPlan] = (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _ => Nil
  }) ++ p.children ++ p.subqueries

  /** Every node of the plan once, by identity: a reused exchange or
    * subquery is the same node, with the same metrics, in two places. */
  def plans(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(p: SparkPlan): Seq[SparkPlan] =
      if (seen.add(p)) p +: inner(p).flatMap(walk) else Nil
    walk(root)
  }

  /** Whole-stage stages whose pipeline time Spark over-counts: Spark adds
    * a stage's whole duration each time its iterator reports that it is
    * exhausted, and a full outer sort-merge join asks its exhausted side
    * once per remaining row of the other side (on sf0.1 `merge_cdc`
    * reported 191 s of it against 1.7 s of task time). Their pipeline time
    * is left out of `codegen_s`. */
  def overCountedStages(all: Seq[SparkPlan]): Seq[SparkPlan] = {
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case w: WholeStageCodegenExec => Seq(w)
      case i: InputAdapter => stage(i.child)
      case _ => Nil
    }
    all.collect { case j: SortMergeJoinExec if j.joinType == FullOuter => j.children.flatMap(stage) }
      .flatten
  }

  /** Sums the executed plan's SQL metrics into the `op.*` buckets. */
  def operatorMetrics(root: SparkPlan): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val all = plans(root)
    val overCounted = overCountedStages(all)
    all.foreach { p =>
      val node = p.nodeName
      p.metrics.foreach { case (key, m) =>
        val v = m.metricType match {
          case "timing" => m.value / 1e3
          case "nsTiming" => m.value / 1e9
          case "size" => m.value / 1048576.0
          case _ => m.value.toDouble
        }
        val bucket = (node, key) match {
          case (_, "scanTime") => "scan_s"
          case (n, "filesSize" | "size of files read") if n.contains("Scan") => "scan_mb"
          case (n, "dataSize") if n.contains("Exchange") && !n.contains("Broadcast") => "exchange_mb"
          case (n, "buildTime") if n.contains("Join") || n.contains("Broadcast") => "join_build_s"
          case (n, "collectTime" | "broadcastTime") if n.contains("Broadcast") => "broadcast_s"
          case (_, "aggTime") => "agg_s"
          case (_, "sortTime") => "sort_s"
          case (n, "pipelineTime") if n.startsWith("WholeStageCodegen") &&
            !overCounted.exists(_ eq p) => "codegen_s"
          case (_, "spillSize") => "spill_mb"
          case _ => ""
        }
        if (bucket.nonEmpty) acc(bucket) += v
      }
    }
    acc.toMap
  }
}
