package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

/** Lineage hygiene for the iterative operators: each one
  * `localCheckpoint`s its state after every round but the last, so a
  * 10-round run must (a) leave every value exactly equal to the
  * recurrence computed by an independent in-memory implementation, and
  * (b) analyze to the same plan size as a 2-round run — every earlier
  * round is one materialized leaf, so the plan does not grow with the
  * round count.
  */
class GraphIterationSpec extends SparkSpec {
  import spark.implicits._

  /** Analyzed-plan node count — available without executing. */
  private def planSize(df: DataFrame): Int = {
    def size(p: LogicalPlan): Int = 1 + p.children.map(size).sum
    size(df.queryExecution.analyzed)
  }

  // deterministic scale-free-ish digraph: 300 nodes, preferential wiring
  private lazy val edgeList: Seq[(Long, Long)] = {
    val rng = new scala.util.Random(13)
    (1 to 1500).map { _ =>
      val a = rng.nextInt(300).toLong
      val b = (rng.nextInt(300) * rng.nextInt(300) / 300).toLong
      (a, b)
    }.filter(e => e._1 != e._2).distinct
  }
  private lazy val edges = edgeList.toDF("src", "dst")

  test("PageRank: 10 checkpointed iterations match the in-memory integer recurrence; plan bounded") {
    val scale = PageRank.Scale
    // independent in-memory recurrence (same integer arithmetic)
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size.toLong
    val deg = edgeList.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val base = 15L * (scale / n) / 100L
    var pr = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to 10) {
      val contrib = pr.collect { case (nd, r) if deg.contains(nd) => nd -> r / deg(nd) }
      val sums = edgeList.groupBy(_._2).map { case (d, es) =>
        d -> es.flatMap(e => contrib.get(e._1)).sum
      }
      pr = nodes.map(nd => nd -> (base + 85L * sums.getOrElse(nd, 0L) / 100L)).toMap
    }
    def run(iters: Int) =
      PageRank.integerPageRank(edges, col("src"), col("dst"), iters)
    val ckpt = run(10)
    assert(ckpt.orderBy("node").as[(Long, Long)].collect().toSeq ==
      nodes.map(nd => nd -> pr(nd)))
    assert(planSize(ckpt) == planSize(run(2)))
  }

  test("bfsHops: 10 checkpointed hops match in-memory BFS; plan bounded") {
    val seedNode = 0L
    // in-memory BFS
    val adj = edgeList.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var expected = Map(seedNode -> 0L)
    var frontier = Set(seedNode)
    for (h <- 1 to 10) {
      val next = frontier.flatMap(adj.getOrElse(_, Nil)) -- expected.keySet
      expected = expected ++ next.map(_ -> h.toLong)
      frontier = next
    }
    val seed = Seq((seedNode, 0L)).toDF("node", "hop")
    val ckpt = Graph.bfsHops(edges, seed, maxHops = 10)
    assert(ckpt.orderBy("node").as[(Long, Long)].collect().toSeq ==
      expected.toSeq.sortBy(_._1))
    assert(planSize(ckpt) == planSize(Graph.bfsHops(edges, seed, maxHops = 2)))
  }

  test("bellmanFord: 10 checkpointed rounds match in-memory relaxation; plan bounded") {
    val cost = edgeList.map(e => e -> (e._1 % 7 + e._2 % 5 + 1)).toMap
    var expected = Map(0L -> 0L)
    for (_ <- 1 to 10) {
      val relaxed = edgeList.flatMap { e =>
        expected.get(e._1).map(d => e._2 -> (d + cost(e)))
      }
      expected = (expected.toSeq ++ relaxed).groupBy(_._1)
        .map { case (nd, ds) => nd -> ds.map(_._2).min }
    }
    val we = edges.withColumn("cost", col("src") % 7 + col("dst") % 5 + 1)
    val seed = Seq((0L, 0L)).toDF("node", "dist")
    val ckpt = Graph.bellmanFord(we, seed, rounds = 10)
    assert(ckpt.orderBy("node").as[(Long, Long)].collect().toSeq ==
      expected.toSeq.sortBy(_._1))
    assert(planSize(ckpt) == planSize(Graph.bellmanFord(we, seed, rounds = 2)))
  }

  test("LabelPropagation: 10 checkpointed rounds match in-memory majority vote; plan bounded") {
    val nodeIds = edgeList.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val inNbrs = edgeList.groupBy(_._2).map { case (d, es) => d -> es.map(_._1) }
    var expected = nodeIds.map(nd => nd -> nd % 11).toMap
    for (_ <- 1 to 10) {
      expected = nodeIds.map { nd =>
        val votes = (inNbrs.getOrElse(nd, Nil).map(expected) :+ expected(nd))
          .groupBy(identity).map { case (lb, vs) => (lb, vs.size) }
        // most votes, ties to smallest label
        nd -> votes.toSeq.map { case (lb, c) => (-c, lb) }.min._2
      }.toMap
    }
    val nodes = nodeIds.toDF("id").withColumn("label", col("id") % 11)
    def run(iters: Int) = LabelPropagation.propagate(nodes, col("id"),
      col("label"), edges, col("src"), col("dst"), iters)
    val ckpt = run(10)
    assert(ckpt.orderBy("id").as[(Long, Long)].collect().toSeq ==
      nodeIds.map(nd => nd -> expected(nd)))
    assert(planSize(ckpt) == planSize(run(2)))
  }

  // Job-count pins: a cut materializes inside the next job that reads it,
  // so it adds no job of its own; an eager cut would run one more job per
  // cut (82 here for PageRank's 9 cuts, 40 for Dedup's 5).
  test("PageRank.prepared: 10 iterations run a pinned number of jobs") {
    val e = edges.select(col("src").as("__src"), col("dst").as("__dst"))
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct.toDF("node")
    val deg = edgeList.groupBy(_._1).toSeq
      .map { case (s, es) => (s, es.size.toLong) }.toDF("node", "deg")
    val jobs = graft.JobCount(spark) {
      PageRank.prepared(nodes, deg, e, iters = 10).collect()
    }
    assert(jobs == 73)
  }

  test("Dedup.duplicateClusters: the convergence loop runs a pinned number of jobs") {
    val jobs = graft.JobCount(spark) {
      graft.dedup.Dedup.duplicateClusters(edges, col("src"), col("dst")).collect()
    }
    assert(jobs == 35)
  }
}
