package graft.cli

import graft.pipeline.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Smoke gate for the dev-run-only CLI mains (round-3 verdict "Next
  * round" #6): their bodies are invoked on the shared test session at
  * tiny scale so a refactor can't silently break them between rounds.
  * Assertion = no throw (the mains' own internal asserts stay armed,
  * e.g. ComponentsProfile.stress's persistent-RDD leak check).
  */
class CliSmokeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("CompareCli.run prints all report sections without throwing") {
    CompareCli.run(spark, sfDir, sections = Set.empty)
  }

  test("ComponentsProfile.run profiles pairs+contraction without throwing") {
    ComponentsProfile.run(spark, sfDir, passes = 1)
  }

  test("ComponentsProfile.stress resolves a 2k-diameter chain and leaks no RDDs") {
    ComponentsProfile.stress(spark, chainLen = 2000L, clusters = 20L)
  }

  test("SketchSmoke.run exercises the dedup/ANN family at n=2000") {
    SketchSmoke.run(spark, n = 2000)
  }

  test("PlanAudit.run audits a query plan without throwing") {
    val got = PlanAudit.run(spark, sfDir, Seq("ev_anomaly"))
    assert(got.map(_._1) == Seq("ev_anomaly"))
    assert(got.head._2.contains("Physical Plan"), got.head._2.take(600))
  }
}
