package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class InvertedIndexSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b c a b"),
    (2L, "b a b a"),
    (3L, "A  B\tc"), // case + whitespace-run normalization
    (4L, "c c c"),
    (5L, "")
  ).toDF("id", "txt")

  test("postings carry 0-based positions of lowercased tokens") {
    val p = InvertedIndex.postings(docs, col("id"), col("txt"))
    assert(p.where(col("doc_id") === 3).orderBy("pos")
      .select("term").as[String].collect().toSeq == Seq("a", "b", "c"))
    assert(p.where(col("doc_id") === 5).count() == 0)
    assert(p.where(col("doc_id") === 1 && col("term") === "a")
      .select("pos").as[Int].collect().sorted.toSeq == Seq(0, 3))
  }

  // the path the phrase queries take: postings, then the adjacency joins
  private def matches(phrase: Seq[String]): Seq[(Long, Int)] =
    InvertedIndex.phraseMatches(InvertedIndex.postings(docs, col("id"), col("txt")), phrase)
      .as[(Long, Int)].collect().sorted.toSeq

  test("phrase search finds all and only consecutive occurrences") {
    // doc 1: "a b" at 0 and 3; doc 2: at 1; doc 3: at 0 (after normalization)
    assert(matches(Seq("a", "b")) == Seq((1L, 0), (1L, 3), (2L, 1), (3L, 0)))
  }

  test("three-term phrase chains adjacency joins") {
    // doc 1: "a b c" at 0; doc 3 normalizes to "a b c" too
    assert(matches(Seq("a", "b", "c")) == Seq((1L, 0), (3L, 0)))
  }

  test("a phrase term absent from the corpus yields no rows") {
    assert(matches(Seq("a", "zz")).isEmpty)
  }
}
