package whbench

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.ExecutionEndPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions._

class ProbeSpec extends SparkFixture {

  /** Runs `body` as benchmark call 7 in span 8 and returns what the probe saw. */
  private def traced(body: => Unit): (Probe, CallCounters) = {
    val probe = new Probe
    val sc = spark.sparkContext
    sc.addSparkListener(probe)
    try {
      sc.setLocalProperty(Probe.CallKey, "7")
      sc.setLocalProperty(Probe.SpanKey, "8")
      body
      ListenerBusDrain(sc)
      probe.settle()
    } finally {
      sc.setLocalProperty(Probe.CallKey, null)
      sc.setLocalProperty(Probe.SpanKey, null)
      sc.removeSparkListener(probe)
    }
    (probe, probe.calls(7))
  }

  test("a traced grouped parquet read reports its jobs, tasks and operator costs") {
    val (probe, c) = traced {
      spark.read.parquet("corpus/sf0.1/lineitem.parquet")
        .groupBy("l_returnflag").agg(sum("l_quantity"))
        .write.format("noop").mode("overwrite").save()
    }
    assert(c.jobs >= 1 && c.tasks >= 2 && c.runMs > 0 && c.cpuNs > 0)
    assert(c.planMs > 0)
    assert(probe.jobs.values.forall { case (call, span, _, _) => call == 7 && span == 8 })
    info(c.op.toString)
    Seq("scan_mb", "exchange_mb", "agg_s", "codegen_s").foreach(k => assert(c.op(k) > 0, k))
  }

  test("pipeline time of the stages under a full outer sort-merge join is left out") {
    val small = spark.range(0, 10).toDF("k")
    val large = spark.range(0, 200000).toDF("k").withColumn("v", col("k") * 2)
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val planned = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case end: SparkListenerSQLExecutionEnd =>
          ExecutionEndPlan(end).foreach(qe => plans.synchronized(plans += qe.executedPlan))
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(planned)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (_, c) = try traced {
      small.join(large, Seq("k"), "full_outer").write.format("noop").mode("overwrite").save()
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sparkContext.removeSparkListener(planned)
    }
    assert(plans.exists(p => Probe.overCountedStages(Probe.plans(p)).nonEmpty))
    info(s"codegen ${c.op("codegen_s")} s, task run time ${c.runMs / 1e3} s")
    assert(c.op("codegen_s") > 0)
    assert(c.op("codegen_s") <= c.runMs / 1e3)
  }
}
