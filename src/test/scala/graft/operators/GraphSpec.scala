package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  // the path the triangle queries take: canonical edges → degree-ordered
  // orientation → out-neighbor intersection count
  private def run(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    val e = Graph.canonicalEdges(edges.toDF("a", "b"), "a", "b")
    val row = Graph.countOriented(Graph.orient(e), e).collect().head
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  test("K4 has four triangles") {
    val k4 = for {
      i <- 1L to 4L; j <- 1L to 4L if i < j
    } yield (i, j)
    assert(run(k4) === ((4L, 6L, 4L)))
  }

  test("square with one diagonal has two triangles") {
    assert(run(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))) ===
      ((4L, 5L, 2L)))
  }

  test("duplicates, reversed orientations, and self-loops normalize away") {
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L),
      (2L, 3L), (3L, 2L))
    assert(run(messy) === ((3L, 3L, 1L)))
  }

  test("triangle-free bipartite graph counts zero") {
    val bip = for { i <- 1L to 3L; j <- 10L to 12L } yield (i, j)
    assert(run(bip) === ((6L, 9L, 0L)))
  }

  test("star graph centered on a hub counts zero despite high degree") {
    val star = (2L to 20L).map(i => (1L, i))
    assert(run(star) === ((20L, 19L, 0L)))
  }

  test("countOriented rejects non-integral node ids, naming the column") {
    // a string id would cast to NULL and vanish from the adjacency lists,
    // undercounting with no error
    val e = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("u", "v")
    val dir = e.select(col("u").as("s"), col("v").as("t"), lit(0L).as("tk"))
    val err = intercept[IllegalArgumentException](Graph.countOriented(dir, e))
    assert(err.getMessage.contains("'s' has type string"), err.getMessage)
  }

  test("countOriented fails on a NULL node id, naming the column") {
    // dir built without canonicalEdges: collect_list would drop the NULL t
    // and the joins the NULL s, undercounting with no error
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val Seq(one, two, three) = Seq(1L, 2L, 3L).map(Option(_))
    for ((c, edges) <- Seq(
        "t" -> Seq((one, two), (two, three), (one, None)),
        "s" -> Seq((one, two), (two, three), (None, three)))) {
      val dir = edges.toDF("s", "t").withColumn("tk", lit(0L))
      val err = intercept[Exception](Graph.countOriented(dir, e).collect())
      val msgs = Iterator.iterate(err: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).toSeq
      assert(msgs.exists(_.contains(s"NULL node id in column '$c'")),
        msgs.mkString("\n"))
    }
  }

  private def peel(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] =
    Graph.kCorePeel(
        Graph.canonicalEdges(edges.toDF("a", "b"), "a", "b"), k, rounds)
      .as[(Long, Long)].collect().toMap

  test("k-core peel: pendant chain off a triangle cascades one node per round") {
    // triangle 1-2-3 plus chain 3-4-5-6; 2-core removes the chain one
    // pendant per round (6 first, then 5, then 4)
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(peel(g, k = 2, rounds = 0).keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(peel(g, k = 2, rounds = 1).keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(peel(g, k = 2, rounds = 2).keySet === Set(1L, 2L, 3L, 4L))
    assert(peel(g, k = 2, rounds = 3) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // converged: extra rounds are a no-op
    assert(peel(g, k = 2, rounds = 5) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("k-core peel: graph entirely below k empties") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(peel(path, k = 2, rounds = 3).isEmpty)
  }
}
