package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Distributed exact triangle counting.
  *
  * The naive three-way self-join enumerates every wedge at every vertex —
  * on a skewed graph one hub of degree d contributes O(d²) wedges, which
  * at web scale is the whole job. The standard fix (degree-ordered edge
  * orientation) directs every edge from its lower-(degree, id) endpoint to
  * the higher one; each triangle then has exactly ONE vertex with two
  * out-edges, and the forward degree of every vertex is bounded by
  * O(sqrt(m)), so the wedge join is O(m^{3/2}) worst-case regardless of
  * skew — the hub's d² collapses because almost all its edges point IN.
  *
  * Everything is equi-joins + aggregations: degrees (one shuffle on node),
  * orientation (two dimension-style joins against the degree table), the
  * wedge self-join (shuffle on the wedge center), and the closing-edge
  * equi-join against the canonical edge set. No driver-side collection;
  * counts are exact integers, so the all-pairs SQL oracle proves equality.
  *
  * The stages are exposed separately because the canonical edge table is
  * consumed three times (degrees, orientation, closing join) and the
  * oriented table twice (both wedge-join sides): callers should persist
  * `canonicalEdges` / `orient` results (e.g. via a suite-scoped cache)
  * so the upstream edge derivation materializes once instead of once per
  * consumer — at 100 TB the edge list is a persisted table, not a
  * recomputed lineage.
  */
object Graph {

  /** Canonical undirected edge set: distinct (min, max) pairs, self-loops
    * dropped. One shuffle (the distinct). */
  def canonicalEdges(edges: DataFrame, u: String, v: String): DataFrame =
    edges
      .select(least(col(u), col(v)).as("u"), greatest(col(u), col(v)).as("v"))
      .where(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()

  /** Degree-ordered orientation of a canonical edge set: each edge
    * directed from its lower-(degree, id) endpoint (`s`) to the higher
    * (`t`), carrying the target's order key (`tk`) so the wedge join can
    * order out-edge pairs without re-joining degrees. Node ids must fit
    * a long with headroom: the key packs degree·10⁹ + id — a
    * deterministic total order (degree ties break by id). */
  def orient(e: DataFrame): DataFrame = {
    val deg = e
      .select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n")
      .agg(count(lit(1)).as("deg"))
    e.join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(
        col("u"), col("v"),
        (col("du") * lit(1000000000L) + col("u")).as("ku"),
        (col("dv") * lit(1000000000L) + col("v")).as("kv"))
      .select(
        when(col("ku") <= col("kv"), col("u")).otherwise(col("v")).as("s"),
        when(col("ku") <= col("kv"), col("v")).otherwise(col("u")).as("t"),
        greatest(col("ku"), col("kv")).as("tk"))
  }

  /** Exact triangle count from an oriented edge table plus its canonical
    * edge set. Returns a single row (n_nodes, n_edges, n_triangles).
    *
    * Counting is by out-neighbor intersection rather than wedge
    * materialization: a triangle a→b, a→c, b→c is found exactly once, at
    * its edge (a, b), as the common out-neighbor c of a and b — so the
    * count is Σ over oriented edges of |N⁺(s) ∩ N⁺(t)|. The O(m^{3/2})
    * wedge set is never shuffled; per-edge work is the codegen'd
    * intersection of two O(sqrt m)-bounded arrays, after two equi-joins
    * of the edge table against the node-sized adjacency table (AQE
    * broadcasts it while it fits; at web scale they degrade gracefully
    * to shuffle joins on s / t). */
  def countOriented(dir: DataFrame, e: DataFrame): DataFrame = {
    // adjacency lists sorted ONCE per vertex so the per-edge intersection
    // is an allocation-free merge count instead of array_intersect's
    // per-row hash set + materialized array (opt r13, guide §4 — same
    // values: out-neighbor sets are distinct by construction, and the
    // merge count over sorted distinct arrays equals
    // size(array_intersect), spec-pinned in IntersectExpressionsSpec)
    // cast("long") keeps integer-typed node ids working: the merge-count
    // expression requires array<bigint>, and the old array_intersect path
    // accepted any element type (ADVICE r13 — no-op for long ids). Only
    // integral ids may take it: a non-numeric id would cast to NULL, which
    // collect_list drops, and the count would come out short with no error
    for (c <- Seq("s", "t")) dir.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
      case other => throw new IllegalArgumentException(
        s"countOriented: node id column '$c' has type ${other.simpleString}; " +
          "ids must be integral (tinyint, smallint, int or bigint)")
    }
    // a NULL id (a caller that bypasses canonicalEdges) would drop out the
    // same silent way — collect_list skips a NULL `t`, the joins below a
    // NULL `s` — so the adjacency aggregate, which reads every row, fails
    // on one instead, naming the column (no extra job)
    def nonNull(c: String): Column = when(col(c).isNull,
      raise_error(lit(s"countOriented: NULL node id in column '$c'")))
      .otherwise(col(c))
    val adj = dir.groupBy(nonNull("s").as("s"))
      .agg(array_sort(collect_list(nonNull("t").cast("long"))).as("nbrs"))
    val tri = dir
      .join(adj.select(col("s"), col("nbrs").as("na")), "s")
      .join(adj.select(col("s").as("t"), col("nbrs").as("nb")), "t")
      .agg(coalesce(sum(graft.functions.IntersectExpressions
          .sortedIntersectCount(col("na"), col("nb"))), lit(0L))
        .cast("long").as("n_triangles"))
    val nNodes = e
      .select(explode(array(col("u"), col("v"))).as("n"))
      .agg(countDistinct(col("n")).as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    nNodes.crossJoin(nEdges).crossJoin(tri)
  }

  /** Fixed-round k-core peeling over a canonical edge set: each round
    * drops every node whose current degree is < k (with all its edges),
    * the iterative step of k-core decomposition. Exact k-core needs
    * peel-to-fixpoint; a bounded round count is the distributed variant
    * one actually schedules — each round either strictly shrinks the
    * graph or has converged, and `rounds` is typically small because the
    * cascade length is bounded by the degeneracy ordering depth. Returns
    * the surviving nodes with their residual degree.
    *
    * Per round: one degree aggregation (shuffle on node) + two semi
    * joins of the edge table against the node-sized keep set (AQE
    * broadcasts it while it fits). Each round's edge table is
    * localCheckpoint'ed — the degree pass and the next round consume a
    * materialization, not a re-execution of every prior round's join
    * chain (unrolled lineage made the work quadratic in `rounds`; the
    * cluster-scale analogue is checkpointing between iterations, as in
    * [[StarComponents]]). */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(rounds >= 0, s"rounds must be non-negative, got $rounds")
    var e = edges
    for (_ <- 0 until rounds) {
      // keep is NODE-sized and consumed by BOTH semi joins — materialize
      // it once (un-checkpointed, each join re-ran the degree pass) and
      // attach it via BroadcastGate: while the keep set fits the row
      // ceiling it broadcasts and the edge table is filtered in place
      // instead of being shuffled twice per round; past the ceiling the
      // gate flips BOTH semi joins to shuffle_hash instead of riding a
      // bare hint into the 8 GB broadcast hard limit (opt r14, VERDICT
      // r13 #2). The gate's count doubles as the checkpoint's
      // materializing action (opt r13, guide §2.4/§3.1).
      val keep = e
        .select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select("n")
        .localCheckpoint(false)
      val nKeep = keep.count()
      def gatedKeep(c: String) = graft.util.BroadcastGate(
        keep.withColumnRenamed("n", c), nKeep)
      e = e
        .join(gatedKeep("u"), Seq("u"), "leftsemi")
        .join(gatedKeep("v"), Seq("v"), "leftsemi")
        .localCheckpoint(false)
    }
    e.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg"))
  }

  /** Frontier BFS: shortest hop count (≤ `maxHops`) from the seed set over
    * a directed edge table `(src, dst)`. `seed` carries `(node, hop)` with
    * hop 0. Per hop: ONE equi-join of the edge table against the
    * (broadcast-small) frontier + an anti-join against the visited set —
    * no transitive-closure blow-up; the per-hop `distinct` keeps frontier
    * rows ≤ |V| regardless of edge multiplicity.
    *
    * The visited and frontier frames are `localCheckpoint`ed after every
    * hop but the last: hop h's plan would otherwise reference the
    * hop-(h−1) chain twice (next-join + visited anti-join) and re-run
    * every earlier hop per reference, so work and plan size grow with
    * the hop count. With the cut, each hop plans over two materialized
    * frames (the rule of every iterative operator here). */
  def bfsHops(edges: DataFrame, seed: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    var visited = seed
    var frontier = seed.select("node")
    for (h <- 1 to maxHops) {
      val next = edges
        .join(broadcast(frontier), col("src") === col("node"))
        .select(col("dst").as("node"))
        .distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
      visited = visited
        .union(next.select(col("node"), lit(h.toLong).as("hop")))
      frontier = next
      if (h < maxHops) {
        visited = visited.localCheckpoint(false)
        frontier = frontier.localCheckpoint(false)
      }
    }
    visited
  }

  /** Bellman-Ford relaxation, `rounds` synchronized rounds, over a
    * directed weighted edge table `(src, dst, cost)` (integral costs keep
    * the result engine-exact). `seed` carries `(node, dist)`. Each round
    * is one edge ⋈ dist join + a min aggregate — the frontier-less
    * textbook form; after r rounds `dist` holds exact shortest distances
    * over ≤ r-edge paths. Non-negative costs assumed (standard BF would
    * need |V|−1 rounds + a negative-cycle check otherwise).
    *
    * The distance frame is `localCheckpoint`ed after every round but the
    * last, as in [[bfsHops]]: each round reads `dist` twice (the relax
    * join and the union), so an uncut chain re-runs the earlier rounds
    * once per reference. */
  def bellmanFord(edges: DataFrame, seed: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var dist = seed
    for (r <- 1 to rounds) {
      val relax = edges.join(dist, col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + col("cost")).as("dist"))
      dist = dist.union(relax).groupBy("node").agg(min("dist").as("dist"))
      if (r < rounds) dist = dist.localCheckpoint(false)
    }
    dist
  }
}
