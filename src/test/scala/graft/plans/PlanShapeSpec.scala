package graft.plans

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Executed-plan shape pins for the suite's most expensive queries (r9
  * verdict #6): PLANS.md records the plan audits as prose — this spec
  * makes the structural claims fail a NAMED test instead of surfacing as
  * a bench delta two rounds later.
  *
  * Three claims per query, asserted on the physical plan with AQE off (a
  * dedicated session clone — the adaptive wrapper hides exchanges until
  * runtime, and the pins are about the STATIC shape Catalyst commits to):
  *
  *   1. shuffle budget — ShuffleExchangeExec count stays at its audited
  *      value (a regression here is a new shuffle stage at 100 TB);
  *   2. no CartesianProductExec anywhere (broadcast-scalar crossJoins
  *      plan as BroadcastNestedLoopJoin over 1-row sides and stay legal);
  *   3. column pruning reaches the parquet scan — scans must not read
  *      columns the query never touches (`text` is the fixture's widest
  *      column; an unpruned documents scan drags the whole corpus through
  *      the scan at scale).
  *
  * Iterative builders (pagerank, textrank, kcore, …) cut every round with
  * a lazy localCheckpoint: the earlier rounds are LogicalRDD leaves of
  * the RETURNED plan, materialized by the first job that reads them, so
  * the pins here cover the declarative remainder — the part Catalyst
  * owns. Exchange budgets are upper bounds pinned at the audited count;
  * if an optimizer upgrade REMOVES a shuffle, update the pin downward
  * (the assert is two-sided to make the improvement visible, not to
  * forbid it).
  */
class PlanShapeSpec extends SparkSpec {

  // AQE off: assert on the static plan, not the runtime-replanned one.
  // Everything else is the certified session, preferSortMergeJoin=false
  // (opt r14) included — exchange budgets are join-strategy-invariant
  // (SMJ→SHJ swaps sorts for a hash build, never an exchange), so the
  // audited counts carry over.
  // Fresh memos: the CacheManager is shared across sessions, so a memo an
  // earlier spec cached in the AQE-on session would stand in for this
  // session's own (static) build and change the pinned shape.
  private lazy val planSession: SparkSession = {
    graft.queries.QueryCaches.clear()
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def executedPlan(name: String): SparkPlan =
    SparkEntry.queries(name)(planSession, sf).queryExecution.executedPlan

  private def shuffles(p: SparkPlan): Int =
    p.collect { case e: ShuffleExchangeExec => e }.size

  /** (query, audited shuffle count, columns that must be pruned from
    * every parquet scan the query plans). */
  private val pins: Seq[(String, Int, Seq[String])] = Seq(
    // counts audited at sf0.001 / 4 shuffle partitions / AQE off. 0 means
    // every shuffle of the returned frame sits behind a localCheckpoint
    // leaf, a memoized cache or a broadcast.
    // 7 → 2: PageRank cuts lineage after every iteration but the last, so
    // only the last iteration stays in the returned plan
    ("q_text_textrank", 2, Seq("source")),
    // 11 → 4 (opt r13): iteration tables come from the suite-shared
    // deepwalk adjacency/degree memos instead of per-iteration re-derives;
    // 4 → 2: only the last iteration stays in the plan, as for textrank
    ("q_eng_pagerank", 2, Nil),
    ("q_eng_common_neighbors", 2, Nil),
    ("q_eng_modularity", 7, Nil),
    // 2 → 3 (opt r13): the two string min/max moved to a keyless side
    // aggregate (one extra 1-row exchange) so the wide Expand aggregate
    // can hash instead of sort — a deliberate +1 tiny exchange for the
    // removal of the full expanded-row Sort
    ("q_eng_profile", 3, Nil),
    ("q_eng_kcore", 2, Nil),
    // 0 → 2 (opt r13): the per-step score frames checkpoint BEFORE their
    // max (halving the edge passes), so the two 1-ROW max-aggregate
    // exchanges that used to hide behind the final checkpoint are now in
    // the returned plan — both move one row
    ("q_eng_hits", 2, Nil),
    ("q_eng_triangles", 5, Nil),
    ("q_dedup_clusters_star", 2, Seq("lang", "source")),
    ("q_dedup_semdedup_ann", 4, Seq("label")),
    // DSIR select reads the memoized weight table (InMemoryTableScan) +
    // one documents join; the corpus-sized text column must not reach the
    // returned plan's scan (the scoring pass that DOES read it ran inside
    // the memo build)
    // (0: the weight side is the memoized cache, the documents join
    // broadcasts, and top-k is TakeOrderedAndProject — no exchange at all)
    ("q_text_dsir_select", 0, Seq("text", "n_chars")),
    // retrieval eval rides the BM25 plan (postings/df/score exchanges) +
    // broadcast metadata joins + the ≤10-rows-per-query ideal-rank
    // window; no scan may read the unused n_chars column
    // (11: postings/df/qbag derivation + BM25's own postings/df/score
    // exchanges + the qid windows/aggregate — each shuffles a bounded or
    // postings-sized table, none the raw corpus twice in one stage)
    ("q_text_retrieval_eval", 11, Seq("n_chars")),
    // production ANN geometry: same shape discipline as the fixture row
    // (memoized pair table → star components → centrality aggregate) —
    // the w12 b32 chain must not change the post-memo plan class
    ("q_dedup_semdedup_ann_prod", 4, Seq("label")),
    // —— the rest of the committed slowest-20 (r10 verdict #6) ——
    // one hash aggregate with map-side combine over the lineitem scan
    // (1) + the output ordering's range exchange (1)
    ("q_eng_pricing_summary", 2, Nil),
    // label aggregate (1) + withRank's sort/indexing exchanges (2) +
    // decile-bin aggregate (1); totals broadcast, no global window
    // 4 → 3 (opt r13): plan-native withRank drops the RDD zipWithIndex
    ("q_eng_calibration", 3, Nil),
    // scored-orders label aggregate (1) + the custkey join exchange pair
    // absorbed into withRank-free grouping on the bounded
    // (nation × label) key (2) + output ordering (1); nation names
    // broadcast
    // 4 → 3 (opt r13): the memoized scored table absorbs one exchange
    ("q_eng_target_encode", 3, Nil),
    // BM25 leg (postings/df/score exchanges) + the vector leg's rank +
    // the per-doc fusion aggregate and output ordering; the corpus-wide
    // n_chars column must stay pruned from every scan
    ("q_sim_rrf_fusion", 11, Seq("n_chars")),
    // label aggregate + withRank's exchanges + cumulative confusion
    // counters per distinct score cut + the final per-threshold
    // aggregate/ordering — still zero corpus-sized windows
    // 6 → 5 (opt r13): plan-native rankAndCumSums consumer (see
    // calibration)
    ("q_eng_mcc_sweep", 5, Nil),
    // TPC-H-style waiting-supplier: lineitem semi/anti joins on
    // l_orderkey + per-supplier aggregate + output ordering
    // 4 -> 3 (opt r14): the returned-pairs distinct + join-back left the
    // plan — one two-level aggregate (pair exchange + order exchange)
    // plus the s_name count
    ("q_eng_waiting_supplier", 3, Nil)
  )

  for ((name, budget, pruned) <- pins) {
    test(s"$name: shuffle budget, no cartesian product, pruned scans") {
      val plan = executedPlan(name)
      val n = shuffles(plan)
      assert(n == budget,
        s"$name plans $n shuffles, audited budget is $budget — " +
          (if (n > budget) "a new exchange stage appeared (scale regression)"
           else "an exchange disappeared (improvement: move the pin down)"))
      val cartesians = plan.collect { case c: CartesianProductExec => c }
      assert(cartesians.isEmpty,
        s"$name plans ${cartesians.size} CartesianProductExec node(s)")
      val scans = plan.collect { case f: FileSourceScanExec => f }
      for (scan <- scans; colName <- pruned) {
        assert(!scan.requiredSchema.fieldNames.contains(colName),
          s"$name reads unpruned column '$colName' in scan ${scan.nodeName} " +
            s"(ReadSchema: ${scan.requiredSchema.catalogString})")
      }
    }
  }
}
