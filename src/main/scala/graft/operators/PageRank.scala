package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Fixed-iteration PageRank over an edge list — graph centrality as a
  * sequence of ordinary joins + aggregations, no specialized graph runtime.
  *
  * Entirely INTEGER arithmetic: ranks live in units of `Scale⁻¹`
  * (1e-12), per-edge contributions are `rank div out-degree`, and
  * the damping step is `(85 · Σ) div 100`. Integer sums are associative, so
  * the result is partition-order-independent, bitwise reproducible across
  * engines, and safe to verify exactly — the float-PageRank alternative
  * diverges across engines in the accumulation order. Quantization error
  * per step is < deg·Scale⁻¹, far below any ranking-relevant difference.
  *
  * Plan shape at 100 TB: each iteration is
  *   ranks ⋈ edges (hash join on src) → groupBy(dst) sum → left join nodes,
  * i.e. two shuffles keyed on node id per iteration. Pre-partitioning
  * `edges` by src (or bucketing the edge table) makes the per-iteration
  * rank join co-located; each iteration is an ordinary DataFrame op over
  * the previous one's materialized rank frame, so AQE plans each one
  * (skewed hub nodes split automatically). Dangling
  * nodes (no out-edges) keep only the teleport term — the standard
  * simplification; redistributing dangling mass adds one scalar agg per
  * iteration if ever needed.
  */
object PageRank {

  /** Ranks are integers in units of `Scale⁻¹`: Σpr ≤ Scale. */
  val Scale: Long = 1000000000000L

  /** Ranks after `iters` iterations. `edges` is directed (pass both
    * directions for an undirected graph); nodes are everything appearing as
    * src or dst. Output: (node, pr) with pr in `Scale⁻¹` units (BIGINT);
    * Σpr ≤ Scale with equality up to truncation loss. */
  def integerPageRank(edges: DataFrame, src: Column, dst: Column,
                      iters: Int): DataFrame = {
    val e = edges.select(src.as("__src"), dst.as("__dst"))
    // nodes/deg are VERTEX-sized and referenced once per iteration inside
    // [[prepared]] — materialize them once instead of re-running the
    // distinct/aggregate over the edge list per reference (opt r13; the
    // cluster analogue is persisting the derived graph tables, exactly
    // what the Scaladoc below tells prepared() callers to do)
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst").as("node"))).distinct().localCheckpoint(false)
    val deg = e.groupBy(col("__src").as("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    prepared(nodes, deg, e, iters)
  }

  /** Same recurrence over pre-derived inputs — callers running several
    * iterations (always) should `.cache()`/memoize `nodes`, `deg`, and
    * `edges` first: each iteration references them again, and without
    * caching every reference re-runs the upstream scan + distinct.
    * `nodes` has column `node`; `deg` has `(node, deg)` counting out-edges;
    * `edges` has `(__src, __dst)`.
    *
    * The per-iteration contribution frame attaches through
    * [[graft.util.BroadcastGate]] on the node count (one count of
    * `nodes`, which callers materialize per the contract above): the
    * vertex table is usually orders of magnitude smaller than the edge
    * table (2k nodes vs 160k edges here; 10⁹ vs 10¹¹ for a web graph), so
    * while it fits the gate's row and byte ceilings the edge side never
    * shuffles for the contribution join and each iteration costs one
    * exchange (the dst-keyed sum). Past a ceiling it is hinted
    * `shuffle_hash` instead of riding a bare hint into the 8 GB broadcast
    * hard limit.
    *
    * The rank frame is `localCheckpoint`ed after every iteration but the
    * last: an uncut chain doubles the logical plan per iteration and
    * re-runs every earlier iteration per reference, so analysis, codegen
    * and task-serialization size would grow with `iters`. */
  def prepared(nodes: DataFrame, deg: DataFrame, e: DataFrame,
               iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // the rank frame has exactly |nodes| rows per iteration, so one count
    // decides every iteration's attach
    val n = nodes.count()
    // every node with out-edges has deg >= 1; dangling nodes are absent
    // from `deg` and contribute nothing. The node count enters as a lazy
    // broadcast scalar — no driver-side action
    val nstat = nodes.agg(count(lit(1)).as("__n"))
    val base = expr(s"15 * ($Scale div __n) div 100")

    var ranks = nodes.crossJoin(broadcast(nstat))
      .select(col("node"), expr(s"$Scale div __n").as("pr"))
    for (it <- 1 to iters) {
      val contrib = graft.util.BroadcastGate(ranks.join(deg, "node")
        .select(col("node"), expr("pr div deg").as("c")), n)
      val sums = e.join(contrib, e("__src") === contrib("node"))
        .groupBy(col("__dst").as("node")).agg(sum(col("c")).as("s"))
      ranks = nodes.join(sums, Seq("node"), "left")
        .crossJoin(broadcast(nstat))
        .select(col("node"),
          (base + expr("85 * coalesce(s, CAST(0 AS BIGINT)) div 100")).as("pr"))
      if (it < iters) ranks = ranks.localCheckpoint(false)
    }
    ranks
  }

  /** DuckDB oracle twin for [[integerPageRank]] over an edge CTE
    * `e(src, dst)` declared earlier in the chain: CTEs `nodes`, `deg`, `n`
    * and `r0` … `r<iters>`, the last holding `(node, pr)`. */
  def sqlIntegerPageRank(iters: Int): String = {
    def iter(k: Int) =
      s"""c$k AS (SELECT r.node, r.pr // d.deg AS c
                FROM r${k - 1} r JOIN deg d USING (node)),
        s$k AS (SELECT e.dst AS node, CAST(sum(c.c) AS BIGINT) AS s
                FROM e JOIN c$k c ON e.src = c.node GROUP BY 1),
        r$k AS (SELECT nodes.node,
                       15 * ($Scale // n.n) // 100
                         + 85 * coalesce(s$k.s, 0) // 100 AS pr
                FROM nodes LEFT JOIN s$k USING (node), n)"""
    (s"""nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
              FROM e GROUP BY 1),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
      r0 AS (SELECT node, $Scale // n.n AS pr FROM nodes, n)""" +:
      (1 to iters).map(iter)).mkString(",\n")
  }
}
