package graft

import org.apache.spark.sql.SparkSession

/** The specs run on the session the bench runs on: the shared fixture
  * and [[SparkSpec.withFreshSession]] both carry [[SparkEntry.builder]]'s
  * settings, so a spec sees the same codegen width and partition count
  * as Bench and Verify. */
class SessionFactorySpec extends SparkSpec {

  private def assertBuilderSettings(s: SparkSession): Unit = {
    assert(s.sparkContext.master == s"local[${SparkEntry.localCpus}]")
    assert(s.conf.get("spark.sql.codegen.maxFields") == "256")
    assert(s.conf.get("spark.sql.shuffle.partitions") == SparkEntry.localCpus)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("the shared spec session carries SparkEntry.builder()'s settings") {
    assertBuilderSettings(spark)
  }

  test("withFreshSession builds a new session with the same settings") {
    SparkSpec.withFreshSession() { fresh =>
      assert(fresh ne spark)
      assertBuilderSettings(fresh)
    }
  }
}
