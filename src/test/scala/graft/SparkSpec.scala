package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. sf0.001 keeps the
  * suite fast; the DuckDB-oracle driver gate runs sf0.01. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = SparkSpec.sfDir
  lazy val spark: SparkSession = SparkSpec.session

  /** Every test starts on an empty cache: a frame an earlier test cached
    * and never unpersisted would otherwise stand in, as an
    * InMemoryRelation, for any later plan that matches it. */
  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test) finally spark.catalog.clearCache()
}

object SparkSpec {
  /** The fast spec corpus; [[gateDir]] is the driver's oracle-gate scale. */
  val sfDir = "/root/testdata/sf0.001"
  val gateDir = "/root/testdata/sf0.01"

  /** Runs `body` on a NEW session over the shared SparkContext, built
    * by [[SparkEntry.builder]] and then `wire`: its function registry
    * starts with Spark's built-ins only. The shared fixture is restored
    * as the default and active session afterwards. */
  def withFreshSession[T](wire: SparkSession.Builder => SparkSession.Builder = identity)
      (body: SparkSession => T): T = {
    val base = session // materialize the shared SparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = wire(SparkEntry.builder()).getOrCreate()
      assert(fresh ne base, "must be a fresh session, not the shared fixture")
      body(fresh)
    } finally {
      RunScope.releaseAll(blocking = true)
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started, counted by a listener with the listener bus drained before
    * and after. */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** One session per JVM (forked test run), shared by all specs: the
    * session Bench and Verify run on. */
  lazy val session: SparkSession = SparkEntry.local()
}
