package graft.plans

import graft.{SparkEntry, SparkSpec}

/** Plan-shape contract for the Q5-style star join: every dimension
  * broadcasts and the fact table never shuffles for a join — the only
  * hash exchange in the plan belongs to the final aggregation. */
class StarJoinPlanSpec extends SparkSpec {

  test("q_eng_local_supplier: five broadcast joins, no sort-merge, one agg exchange") {
    val df = SparkEntry.queries("q_eng_local_supplier")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), "no join may shuffle the fact table")
    val nBhj = "BroadcastHashJoin".r.findAllMatchIn(plan).size
    assert(nBhj == 5, s"expected 5 broadcast joins, saw $nBhj")
    val nHashEx = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
    assert(nHashEx == 1, s"only the final aggregation may hash-exchange, saw $nHashEx")
    assert(df.count() > 0, "fixture must produce rows for the ASIA/1996 slice")
  }
}
