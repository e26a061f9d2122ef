package graft

import graft.plans.GraftPlans

/** The test fixture is built by [[GraftSession]], so the suite checks the
  * optimizer config that Bench and Verify run under. */
class GraftSessionSpec extends SparkSpec {

  test("the test session carries every entry of the bench conf") {
    GraftSession.conf(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, s"conf $k")
    }
  }

  test("ensureInjected is a no-op on a session built with the extensions") {
    GraftPlans.ensureInjected(spark)
    assert(spark.experimental.extraOptimizations.isEmpty)
    assert(spark.experimental.extraStrategies.isEmpty)
  }
}
