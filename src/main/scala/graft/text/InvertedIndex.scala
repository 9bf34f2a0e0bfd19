package graft.text

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Positional inverted index + exact phrase search.
  *
  * `postings` explodes documents into `(term, doc_id, pos)` rows — the
  * classic IR index layout ([[Bm25]] builds the frequency-only variant;
  * this one keeps positions so adjacency is queryable). Phrase search is
  * then pure relational algebra: one equi-join per phrase term on
  * `(doc_id, pos + i)`, each side pre-filtered to its literal term, so
  * Catalyst pushes the term predicates into the index scan and the joins
  * shuffle only the tiny per-term posting lists — never the corpus.
  *
  * At 100 TB the postings table is written bucketed by `term`, making the
  * per-term scans partition-pruned point lookups; the adjacency joins
  * touch only rows of the queried terms (stop-term discipline as in
  * [[Bm25]]'s `maxDfPermille` applies unchanged).
  */
object InvertedIndex {

  /** Positional postings: one row per token occurrence, 0-based `pos`,
    * lowercased whitespace tokenization (shared [[TextFunctions.tokens]]
    * contract). */
  def postings(docs: DataFrame, idCol: Column, textCol: Column): DataFrame =
    docs.select(idCol.as("doc_id"),
        posexplode(TextFunctions.tokens(lower(textCol))).as(Seq("pos", "term")))

  /** Documents containing `phrase` as consecutive tokens: `(doc_id, pos)`
    * of each occurrence start. One join per term past the first. */
  def phraseMatches(postings: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val head = postings.where(col("term") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.zipWithIndex.drop(1).foldLeft(head) { case (acc, (term, i)) =>
      val next = postings.where(col("term") === term)
        .select(col("doc_id").as(s"d$i"), col("pos").as(s"p$i"))
      acc.join(next,
          acc("doc_id") === next(s"d$i") && next(s"p$i") === acc("pos") + i)
        .drop(s"d$i", s"p$i")
    }
  }
}
