package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BM25 ranking contract: rare terms outweigh stop-terms, self-match
  * excluded, integer scores are exact. */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "apple banana common"),        // the query doc
    (1L, "apple banana common extra"),  // shares both rare terms
    (2L, "apple common common common"), // shares one rare term
    (3L, "common common common"),       // only the stop-term
    (4L, "zebra yak")                   // nothing shared
  ).toDF("id", "text")

  private def run(k: Int) =
    Bm25.topK(corpus, col("id"), col("text"),
      corpus.where(col("id") === 0), col("id"), col("text"), k)

  test("ranking follows shared-rare-term weight; no self-match; clean docs absent") {
    val rows = run(10).select("nid", "rank").as[(Long, Long)].collect().toMap
    assert(!rows.contains(0L), "query doc must not match itself")
    assert(!rows.contains(4L), "doc sharing no term must be absent")
    assert(rows(1L) < rows(2L), "two shared rare terms beat one")
    assert(rows(2L) < rows(3L), "a rare term beats the corpus-wide stop-term")
  }

  test("scores are deterministic integers (micro-units)") {
    val a = run(10).select("nid", "score_micro").as[(Long, Long)].collect().toMap
    val b = run(10).select("nid", "score_micro").as[(Long, Long)].collect().toMap
    assert(a == b)
    assert(a.values.forall(_ > 0))
  }

  test("query terms and stats broadcast — postings side drives the join") {
    val plan = run(3).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  // "common" has df 4 of n 5 (800‰); a 700‰ cutoff must drop it from the
  // query side BEFORE the postings join
  test("df cutoff drops stop-terms: docs sharing only a stop-term are unreachable") {
    val rows = Bm25.topK(corpus, col("id"), col("text"),
        corpus.where(col("id") === 0), col("id"), col("text"), k = 10,
        maxDfPermille = 700)
      .select("nid").as[Long].collect().toSet
    assert(rows == Set(1L, 2L),
      "only docs sharing a sub-cutoff term may appear")
  }

  test("a pure stop-term query generates zero candidates under the cutoff") {
    val q = Seq((9L, "common")).toDF("id", "text")
    val out = Bm25.topK(corpus, col("id"), col("text"),
      q, col("id"), col("text"), k = 10, maxDfPermille = 700)
    assert(out.count() == 0, "a stop-term query must not touch the corpus")
  }
}
