package graft.plans

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** AQE-ON twins of the PlanShapeSpec pins (r11 verdict #4): PlanShapeSpec
  * asserts the STATIC plan with adaptive execution disabled, but a
  * production 100×-scale cluster runs AQE on, and AQE re-plans exchanges
  * at runtime — so the shapes the suite actually ships under are the
  * FINAL adaptive plans, pinned here separately.
  *
  * Method: each query is EXECUTED (AQE finalizes stages lazily), then the
  * adaptive plan tree is flattened through AdaptiveSparkPlanExec /
  * QueryStageExec boundaries (both are leaf-like nodes that hide their
  * stage subtrees from a plain `collect`). Pins per query:
  *
  *   1. the plan really went through AQE (an AdaptiveSparkPlanExec root —
  *      guards against a conf regression silently reverting to static);
  *   2. exchange budget on the FINAL plan — counts legitimately differ
  *      from the static pins (AQE demotes exchanges to broadcasts, reuses
  *      stages, and the iterative builders leave a different
  *      checkpoint boundary), so these are their own audited values, not
  *      the static ones;
  *   3. zero CartesianProductExec — the claim that must survive ANY
  *      re-plan;
  *   4. column pruning still reaches every parquet scan (AQE never
  *      un-prunes, but a broadcast demotion rewires scans — keep the
  *      evidence).
  *
  * Audited at sf0.001 / 4 shuffle partitions / AQE on, queries executed
  * in pin order within one fresh session (memo builds land on the first
  * family member, exactly like the probe that produced the numbers).
  */
class AqePlanShapeSpec extends SparkSpec {

  // Fresh memos, built here in pin order: the CacheManager is shared across
  // sessions, so memos an earlier spec cached would stand in for them.
  private lazy val aqeSession: SparkSession = {
    graft.queries.QueryCaches.clear()
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case q: QueryStageExec => p +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  /** (query, AQE-on final-plan exchange budget, columns that must stay
    * pruned from every parquet scan). */
  private val pins: Seq[(String, Int, Seq[String])] = Seq(
    // 18 → 6 (opt r13): PageRank's vertex-sized nodes/deg tables are
    // checkpointed once instead of re-derived per iteration reference;
    // 6 → 3: PageRank cuts lineage after every iteration but the last
    ("q_text_textrank", 3, Seq("source")),
    // 11 → 7 (opt r13): iteration tables come from the suite-shared
    // deepwalk adjacency/degree memos
    // 7 → 6, triangles 6 → 4 (certified session): the memos are AQE-planned
    // (canChangeCachedPlanOutputPartitioning), so fewer re-shuffles;
    // 6 → 2: only the last PageRank iteration stays in the plan
    ("q_eng_pagerank", 2, Nil),
    ("q_eng_common_neighbors", 5, Nil),
    ("q_eng_modularity", 7, Nil),
    // 2 → 3 (opt r13): +1 one-row exchange for the keyless string
    // min/max side aggregate; the wide Expand aggregate hashes now
    ("q_eng_profile", 3, Nil),
    ("q_eng_kcore", 0, Nil),
    ("q_eng_hits", 2, Nil),
    ("q_eng_triangles", 4, Nil),
    ("q_dedup_clusters_star", 2, Seq("lang", "source")),
    ("q_dedup_semdedup_ann", 4, Seq("label")),
    ("q_text_dsir_select", 0, Seq("text", "n_chars")),
    ("q_text_retrieval_eval", 12, Seq("n_chars")),
    ("q_dedup_semdedup_ann_prod", 4, Seq("label")),
    ("q_eng_pricing_summary", 2, Nil),
    // 4 → 3 / 6 → 5 (opt r13): plan-native StableIds + memoized scored
    ("q_eng_calibration", 3, Nil),
    ("q_eng_target_encode", 3, Nil),
    ("q_sim_rrf_fusion", 11, Seq("n_chars")),
    ("q_eng_mcc_sweep", 5, Nil),
    // 4 -> 3 (opt r14): the returned-pairs distinct + join-back left the
    // plan — one two-level aggregate (pair exchange + order exchange)
    // plus the s_name count
    ("q_eng_waiting_supplier", 3, Nil),
    // the bucketed-layout flagship: zero exchanges EVEN under AQE —
    // adaptive re-planning respects the catalog bucket distribution
    ("q_eng_bucketed_join", 0, Nil),
    // bucket-count evolution (16 ⋈ 32 coalesced): the zero-exchange
    // shape must survive AQE too — runtime re-planning keeps the
    // read-side bucket coalescing instead of inserting an exchange
    ("q_eng_bucketed_join_coalesce", 0, Nil)
  )

  for ((name, budget, pruned) <- pins) {
    test(s"$name under AQE: final-plan exchange budget, no cartesian, pruned scans") {
      val df = SparkEntry.queries(name)(aqeSession, sf)
      df.collect() // finalize every adaptive stage
      val nodes = flatten(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[AdaptiveSparkPlanExec]),
        s"$name did not plan adaptively — AQE conf regressed")
      val n = nodes.collect { case e: ShuffleExchangeLike => e }.size
      assert(n == budget,
        s"$name finalizes $n exchanges under AQE, audited budget is $budget — " +
          (if (n > budget) "a new runtime exchange appeared (scale regression)"
           else "an exchange disappeared (improvement: move the pin down)"))
      val cartesians = nodes.collect { case c: CartesianProductExec => c }
      assert(cartesians.isEmpty,
        s"$name finalizes ${cartesians.size} CartesianProductExec node(s)")
      val scans = nodes.collect { case f: FileSourceScanExec => f }
      for (scan <- scans; colName <- pruned) {
        assert(!scan.requiredSchema.fieldNames.contains(colName),
          s"$name reads unpruned column '$colName' under AQE " +
            s"(ReadSchema: ${scan.requiredSchema.catalogString})")
      }
    }
  }
}
