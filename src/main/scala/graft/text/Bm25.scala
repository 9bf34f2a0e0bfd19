package graft.text

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** BM25 sparse retrieval: rank corpus documents against a set of query
  * documents by the classic Okapi BM25 score — the term-based counterpart
  * to the dense-vector search in `graft.similarity`.
  *
  * Plan shape for 100 TB: the corpus is touched exactly twice — one scan
  * builds postings `(doc, term, tf, dl)` with a single shuffle on
  * `(doc, term)`, one aggregation derives document frequencies. Everything
  * query-sided (query terms joined with their per-term idf and the corpus
  * stats) is tiny and BROADCAST, so scoring is ONE map-side broadcast join
  * over the postings followed by an aggregation keyed on `(query, doc)` —
  * no corpus re-shuffle, no cartesian product, and postings for terms
  * absent from every query are dropped at the join instead of flowing
  * through a df lookup first. Candidate volume is inherently
  * |queries| × |docs containing a query term|; the `maxDfPermille`
  * document-frequency cutoff drops stop-terms (df > permille·N/1000) from
  * the query side BEFORE the postings join, bounding it the same way the
  * n-gram dedup bounds its inverted index — a stop-term in one query can
  * no longer touch every document in the corpus.
  *
  * Cross-engine determinism: the ONLY transcendental (`ln` in the idf) is
  * quantized to integer micro-units per distinct document frequency — a
  * vocabulary-sized table both engines derive with one `ln` per df value
  * (boundary distances audited by QuantBoundarySpec). Every other factor
  * of the score is an exact integer rational: with the classic k1 = 1.2
  * and b = 0.75, multiplying the tf saturation's numerator and
  * denominator by 20·sumdl clears all fractions (avgdl = sumdl/n never
  * materializes as a float), and the half-up rounding
  * floor(idf·num/den + 1/2) becomes the pure integer
  * (2·idf_micro·num + den) div (2·den). Integer addition is associative,
  * so the per-pair sum is partition-order-independent — and there is no
  * floating-point operation anywhere for an engine to drift on.
  *
  * Overflow envelope: 2·idf_micro·D(k1+1)·tf·sumdl must stay below 2⁶³ —
  * with idf_micro ≤ 2·10⁷, that is tf·sumdl < 5·10¹²,
  * comfortable for any single-shard corpus this operator would score
  * directly (a 100 TB corpus shards the postings and reuses the same
  * integers per shard).
  */
object Bm25 {

  /** Top-k corpus docs per query doc. Output:
    * (qid, nid, rank, score_micro) — score in 1e-6 units.
    * `maxDfPermille` drops query terms whose df exceeds permille·N/1000
    * (1000 = no cutoff). */
  def topK(corpus: DataFrame, cId: Column, cText: Column,
           queries: DataFrame, qId: Column, qText: Column,
           k: Int, maxDfPermille: Int = 1000): DataFrame = {
    require(maxDfPermille > 0 && maxDfPermille <= 1000,
      s"maxDfPermille must be in (0, 1000], got $maxDfPermille")
    // k1 = 1.2 and b = 0.75 over the common denominator D
    val D = 20L
    val iNum = 44L // D·(k1+1)
    val iK1nb = 6L // D·k1·(1−b)
    val iK1b = 18L // D·k1·b

    val base = corpus.select(cId.as("nid"),
      TextFunctions.tokens(lower(cText)).as("__toks"))
    // postings with doc length carried through (dl is functionally
    // dependent on nid — grouping by it adds no groups)
    val post = base.select(col("nid"),
        size(col("__toks")).cast("long").as("dl"),
        explode(col("__toks")).as("tok"))
      .groupBy("nid", "dl", "tok").agg(count(lit(1)).as("tf"))
    val stats = base.agg(count(lit(1)).as("n"),
      sum(size(col("__toks")).cast("long")).as("sumdl"))
    // idf per term, quantized to micro-units at the one ln site; the +1
    // inside keeps idf strictly positive for every df ≤ N
    val dft = post.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_micro",
        floor(log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
          * lit(1000000.0) + lit(0.5)).cast("long"))
    val qterms = queries.select(qId.as("qid"),
      explode(array_distinct(TextFunctions.tokens(lower(qText)))).as("tok"))
    // query terms + their idf/stats, stop-terms cut by the integer df rule
    // — this tiny table is the ONLY thing the postings join against. The
    // tiny side broadcasts INTO the vocabulary join too, so the df table
    // never shuffles either
    val qdf = dft.join(broadcast(qterms), "tok")
      .where(col("df") * lit(1000L) <= col("n") * lit(maxDfPermille.toLong))
      .select("qid", "tok", "idf_micro", "n", "sumdl")

    // exact integer rational: tf·(k1+1)/(tf + k1(1−b) + k1·b·dl·n/sumdl),
    // numerator and denominator scaled by D·sumdl
    val num = lit(iNum) * col("tf") * col("sumdl")
    val den = lit(D) * col("tf") * col("sumdl") +
      lit(iK1nb) * col("sumdl") + lit(iK1b) * col("dl") * col("n")
    // floor(idf·num/den + 1/2) over non-negative integers
    val sm = call_function("div",
      lit(2L) * col("idf_micro") * num + den, lit(2L) * den)

    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_micro").desc, col("nid"))
    post
      .join(broadcast(qdf), "tok")
      .where(col("nid") =!= col("qid"))
      .withColumn("sm", sm)
      .groupBy("qid", "nid").agg(sum(col("sm")).as("score_micro"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("qid", "nid", "rank", "score_micro")
  }
}
