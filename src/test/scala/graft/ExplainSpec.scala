package graft

import graft.core.Sessions

/** `Explain` prints each query's plan from a clean cache state. */
class ExplainSpec extends SparkTestBase {

  /** A plan with expression and exchange ids stripped, as `plan_diff.sh` does. */
  private def stripped(plan: String): String =
    plan.replaceAll("#[0-9]+L?", "").replaceAll("plan_id=[0-9]+", "plan_id=")

  /** The plans of one Explain run, started from an empty cache. */
  private def explained(queries: QueryDef*): Map[String, String] = {
    Sessions.release(spark)
    Explain.plans(spark, sf001, queries).toMap
  }

  test("ir6's plan is the same alone and after ir2, which caches what ir6 reads") {
    val Seq(ir2, ir6) = Seq("ir2_bm25_topk", "ir6_prf_expansion")
      .map(n => SparkEntry.all.find(_.name == n).get)
    val alone = explained(ir6)
    val after = explained(ir2, ir6)
    assert(after.keys.toSeq.sorted == Seq(ir2.name, ir6.name))
    assert(stripped(after(ir6.name)) == stripped(alone(ir6.name)))
  }
}
