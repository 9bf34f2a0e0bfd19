package graft.text

import graft.SparkSpec
import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** Decontamination + n-gram + novelty-filter contracts. */
class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  test("tokenNgrams: sliding window, short docs yield none, empty safe") {
    val df = Seq("a b c d", "a b", "", "  ").toDF("t")
      .select(TextFunctions.tokenNgrams(col("t"), 3).as("ng"))
    val out = df.as[Seq[String]].collect()
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1).isEmpty && out(2).isEmpty && out(3).isEmpty)
  }

  test("contamination counts distinct eval n-grams and eval docs") {
    val corpus = Seq(
      (1L, "x y z w"),     // shares "x y z" and "y z w" with eval 10, "x y z" with 11
      (2L, "p q r"),       // no overlap
      (3L, "x y z x y z")  // repeated hit counts once
    ).toDF("id", "text")
    val eval = Seq(
      (10L, "x y z w u"),
      (11L, "v x y z")
    ).toDF("id", "text")
    val out = Decontaminate.contamination(corpus, col("id"), col("text"),
        eval, col("id"), col("text"), n = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ((2L, 2L))) // ngrams {x y z, y z w}; eval docs {10, 11}
    assert(out(3L) == ((1L, 2L))) // only "x y z", present in both eval docs
    assert(!out.contains(2L))     // clean doc absent
  }

  test("contamination broadcasts the eval side") {
    val corpus = Seq((1L, "x y z")).toDF("id", "text")
    val eval = Seq((10L, "x y z")).toDF("id", "text")
    val plan = Decontaminate.contamination(corpus, col("id"), col("text"),
      eval, col("id"), col("text"), n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("novelAgainst keeps only fingerprints absent from the reference") {
    val batch = Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("fp", "id")
    val ref = Seq("a", "c").toDF("fp")
    val out = Dedup.novelAgainst(batch, ref, "fp")
      .select("id").as[Long].collect().toSet
    assert(out == Set(2L))
  }
}
