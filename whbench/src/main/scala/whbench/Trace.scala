package whbench

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import whbench.Main.Iteration
import whbench.Stats.Span

/** Turns a traced run's spans and listener counters into the per-layer
  * metrics (`<layer>.<metric>`, per traced iteration) and self times. */
object Trace {
  /** Spark jobs as spans under the build or action span that ran them. */
  def jobSpans(probe: Probe, spans: Seq[Span]): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    probe.jobs.toSeq.flatMap { case (job, (call, parent, t0, t1)) =>
      byId.get(call).map(c => Span(-2 - job, parent, "job", s"job $job", c.layer, c.iteration,
        t0 * 1000000L, t1 * 1000000L))
    }
  }

  /** Seconds of self time per traced iteration, by layer and span kind. */
  def selfTimes(all: Seq[Span], iterations: Int): Map[String, Map[String, Double]] = {
    val self = Stats.selfTimes(all)
    all.filter(_.kind != "iteration").groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.groupBy(_.kind).map { case (kind, ks) => kind -> ks.map(s => self(s.id)).sum / 1e9 / iterations }
    }
  }

  /** `<layer>.<metric>` per traced pass for every layer, then `op.*`. */
  def layerMetrics(probe: Probe, traced: Seq[Iteration], spans: Seq[Span], cores: Int)
      : (Seq[(String, Double, String)], Map[String, Map[String, Double]]) = {
    val n = traced.length.toDouble
    val callSpans = spans.filter(_.kind == "call")
    val calls = traced.flatMap(_.calls).groupBy(_.step.layer)
    val perLayer = Steps.Layers.flatMap { layer =>
      val cs = calls.getOrElse(layer, Nil)
      val counters = callSpans.filter(_.layer == layer).flatMap(s => probe.calls.get(s.id))
      def sum(f: CallCounters => Long): Double = counters.map(f).sum.toDouble
      val build = cs.map(_.buildS).sum
      val run = cs.map(_.runS).sum
      val slotUse = if (build + run > 0) sum(_.runMs) / 1e3 / ((build + run) * cores) else 0.0
      Seq(
        ("calls", cs.length.toDouble, "count"),
        ("failed", cs.count(_.failed).toDouble, "count"),
        ("rows_out", cs.flatMap(_.digest).map(_.rows).sum.toDouble, "rows"),
        ("build_s", build, "s"),
        ("run_s", run, "s"),
        ("plan_s", sum(_.planMs) / 1e3, "s"),
        ("jobs", sum(_.jobs), "count"),
        ("tasks", sum(_.tasks), "count"),
        ("task_cpu_s", sum(_.cpuNs) / 1e9, "s"),
        ("gc_s", sum(_.gcMs) / 1e3, "s"),
        ("task_wait_s", sum(_.waitMs) / 1e3, "s"),
        ("slot_use", slotUse, "frac"),
        ("shuffle_mb", sum(_.shuffleBytes) / 1048576.0, "MB"),
        ("spill_mb", sum(_.spillBytes) / 1048576.0, "MB"))
        .map { case (m, v, u) => (s"$layer.$m", if (m == "slot_use") v else v / n, u) }
    }
    val ops = Probe.OpMetrics.map { m =>
      (s"op.$m", callSpans.flatMap(s => probe.calls.get(s.id)).map(_.op(m)).sum / n,
        if (m.endsWith("_mb")) "MB" else "s")
    }
    (perLayer ++ ops, selfTimes(spans ++ jobSpans(probe, spans), traced.length))
  }

  def writeSpans(p: Path, spans: Seq[Span], probe: Probe, self: Map[String, Map[String, Double]]): Unit = {
    val all = spans ++ jobSpans(probe, spans)
    val json = Map(
      "self_time_s" -> self,
      "calls" -> spans.filter(_.kind == "call").flatMap(s => probe.calls.get(s.id).map { c =>
        Map("name" -> s.name, "iteration" -> s.iteration, "jobs" -> c.jobs, "tasks" -> c.tasks,
          "task_run_s" -> c.runMs / 1e3, "task_cpu_s" -> c.cpuNs / 1e9,
          "plan_s" -> c.planMs / 1e3,
          "op" -> Probe.OpMetrics.map(m => m -> c.op(m)).toMap)
      }),
      "spans" -> all.sortBy(_.startNs).map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "layer" -> s.layer, "iteration" -> s.iteration,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.createDirectories(p.getParent)
    Files.write(p, new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(json))
  }
}
