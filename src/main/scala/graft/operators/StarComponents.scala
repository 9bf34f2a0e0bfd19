package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Connected components via alternating large-star / small-star — the
  * MapReduce-literature algorithm (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC'14) whose round count is
  * O(log² n) on the component DIAMETER rather than O(diameter) like
  * plain min-label propagation ([[graft.dedup.Dedup.duplicateClusters]]):
  * on a 100 TB near-dup graph with long chains (transitive near-dups),
  * label propagation pays one shuffle per hop while star operations
  * collapse chains exponentially.
  *
  *   large-star: for each node u, connect every STRICTLY-LARGER neighbor
  *     to u's minimum neighbor (including u itself);
  *   small-star: connect every neighbor ≤ u (and u) to the minimum.
  *
  * Each operation is one groupBy(u) over the edge list — the same
  * shuffle-per-round cost as a propagation step, but rounds are
  * O(log² n). Terminates when the edge set is a star forest (edges stop
  * changing); roots then label their components.
  *
  * Deterministic for any input partitioning (min over neighbors), exact
  * — spec-proven identical to duplicateClusters on the fixture graphs.
  */
object StarComponents {

  /** (doc_id, cluster_id) with cluster_id = min reachable node id; one
    * row per distinct node appearing in `pairs`. */
  def components(pairs: DataFrame, idaCol: Column, idbCol: Column): DataFrame = {
    val nodes = pairs.select(idaCol.as("id"))
      .unionByName(pairs.select(idbCol.as("id"))).distinct()
      .localCheckpoint(false)

    // undirected edge set, kept as (u, v) both ways for the star ops
    var edges = pairs.select(idaCol.as("u"), idbCol.as("v"))
      .where(col("u") =!= col("v"))
      .localCheckpoint(false)

    def bothWays(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v"))).distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = bothWays(e)
      // m(u) = min(u, neighbors of u)
      val m = nbrs.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      nbrs.join(m, "u")
        .where(col("v") > col("u")) // strictly larger neighbors re-attach
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // operate on edges directed to the smaller endpoint: v <= u.
      // (greatest, least) + distinct IS bothWays(e).where(v < u) for a
      // self-loop-free e — one distinct over |e| instead of a union +
      // distinct over 2|e| (opt r13, guide §2.3)
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v")).distinct()
      val m = dir.groupBy("u").agg(min(col("v")).as("m"))
      val reattached = dir.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
      val self = m.select(col("u"), col("m").as("v"))
      reattached.unionByName(self)
        .where(col("u") =!= col("v"))
        .distinct()
    }

    var changed = true
    var guard = 0
    val maxRounds = 64 // far above log²(n) for any 64-bit id space
    while (changed && guard < maxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      // true symmetric difference — a strict subset (edges collapsing
      // into the star forest) must still count as change. Both sides are
      // distinct() outputs, so a signed-count groupBy is an exact set
      // symmetric difference in ONE shuffle (the two except() jobs this
      // replaces each shuffled both sides), and isEmpty stops at the
      // first surviving row.
      changed = !next.select(col("u"), col("v"), lit(1L).as("s"))
        .unionByName(edges.select(col("u"), col("v"), lit(-1L).as("s")))
        .groupBy(col("u"), col("v")).agg(sum(col("s")).as("s"))
        .where(col("s") =!= 0L)
        .isEmpty
      edges = next
      guard += 1
    }
    // silent truncation would return WRONG components — fail loudly
    require(!changed,
      s"star components did not converge within $maxRounds rounds")

    // star forest: every edge points at its component root (the min id)
    val rootOf = bothWays(edges).groupBy("u").agg(min(col("v")).as("root"))
      .select(col("u").as("id"), least(col("root"), col("id")).as("cluster_id"))
    nodes.join(rootOf, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }
}
