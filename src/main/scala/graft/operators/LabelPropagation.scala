package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Fixed-iteration majority label propagation — the semi-supervised
  * labeling step a training-data pipeline runs over a similarity graph
  * (near-duplicate pairs, citation links): every node adopts the most
  * common label among itself and its neighbors, ties to the smallest
  * label, for a fixed number of synchronized rounds.
  *
  * Everything is integer counting + lexicographic argmin, so the result
  * is exactly reproducible across engines and partitionings — no float
  * scores, no iteration-order dependence (rounds are synchronized: all
  * updates in round k read only round k-1 labels).
  *
  * Plan shape per round: edges ⋈ labels (hash join on the node id) →
  * groupBy (node, label) count → struct-min argmax per node → left join
  * back to nodes. Two shuffles per round, both keyed on node id — at
  * 100 TB, bucket the edge table by src. The label frame is
  * `localCheckpoint`ed between rounds, as in [[PageRank.prepared]]. */
object LabelPropagation {

  /** `nodes`: (id, label) — label integral. `edges`: directed (src, dst);
    * pass both directions for an undirected graph. Output: (id, label)
    * after `iters` rounds.
    *
    * Contract: every edge endpoint must appear in `nodes` — an unknown
    * `dst` would materialize as a phantom output row labeled only by its
    * neighbors (an unknown `src` simply contributes no votes).
    *
    * The label frame is `localCheckpoint`ed after every round but the
    * last: each round reads it twice (the vote join and the self-vote),
    * so an uncut chain re-runs every earlier round per reference. */
  def propagate(nodes: DataFrame, id: Column, label: Column,
                edges: DataFrame, src: Column, dst: Column,
                iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(src.as("__src"), dst.as("__dst"))
    var labels = nodes.select(id.as("id"), label.cast("long").as("label"))
    for (it <- 1 to iters) {
      val neighborVotes = e.join(labels, e("__src") === labels("id"))
        .select(col("__dst").as("id"), col("label"))
      val votes = neighborVotes.unionByName(labels) // self-vote stabilizes
      labels = votes.groupBy(col("id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("id"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("lb"))).as("mn"))
        .select(col("id"), col("mn.lb").as("label"))
      if (it < iters) labels = labels.localCheckpoint(false)
    }
    labels
  }
}
