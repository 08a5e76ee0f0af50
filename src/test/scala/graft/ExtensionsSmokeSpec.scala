package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registry entry must plan under a BARE session whose only wiring
  * is the `GraftExtensions` class — the shared-cluster deployment shape
  * (one `spark.sql.extensions` config line, every job gets the native
  * functions and the optimizer rule). Library code builds its kernels as
  * Columns and needs no function names at all (OutputSchemaSpec pins
  * that on a plain session); this pin keeps the SQL route whole: every
  * name in [[GraftFunctions.all]] is injected, the optimizer rule is
  * installed, and no entry trips over either. Physical planning
  * (sparkPlan) is forced so function resolution, the injected
  * NativeVectorRewrite rule, and strategy selection all run.
  *
  * Session mechanics: `spark.sql.extensions` is a STATIC conf read from
  * the SparkContext at session construction, so a second in-JVM session
  * cannot pick it up from builder options — but
  * `Builder.withExtensions(new GraftExtensions())` is the same code
  * path minus the conf lookup: the REAL extensions class runs against
  * the new session's fresh registry (wiring the session through
  * GraftFunctions.registerAll instead would bypass GraftExtensions.apply
  * entirely).
  */
class ExtensionsSmokeSpec extends AnyFunSuite {

  test("every registry entry plans under an extensions-only session") {
    SparkSpec.withFreshSession(_.withExtensions(new GraftExtensions())) { ext =>
      GraftFunctions.all.foreach { case (id, _, _) =>
        assert(ext.sessionState.functionRegistry.functionExists(id),
          s"GraftExtensions must have injected $id")
      }
      assert(ext.sessionState.optimizer.extendedOperatorOptimizationRules
          .contains(graft.plans.NativeVectorRewrite),
        "GraftExtensions must have injected the optimizer rule")
      val failures = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
        try {
          SparkEntry.queries(name)(ext, SparkSpec.sfDir)
            .queryExecution.sparkPlan
          None
        } catch {
          case e: Throwable => Some(s"$name: ${e.getMessage}")
        }
      }
      assert(failures.isEmpty,
        s"${failures.size} entries failed to plan under extensions-only:\n" +
          failures.mkString("\n"))
    }
  }
}
