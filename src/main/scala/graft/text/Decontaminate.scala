package graft.text

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Benchmark decontamination: find corpus documents that share token
  * n-grams with an evaluation set, so they can be dropped (or flagged)
  * before training — the standard guard against test-set leakage in LLM
  * data pipelines.
  *
  * Plan shape for 100 TB: the eval side is always tiny relative to the
  * corpus (benchmarks are thousands of documents, the corpus is billions),
  * so its distinct n-grams are BROADCAST and the corpus side never
  * shuffles — contamination detection is a map-side hash join plus one
  * aggregation keyed on the corpus doc id. N-grams travel as md5 digests,
  * not strings, keeping the broadcast and the join keys fixed-width.
  *
  * The overlap length `n` is the precision knob: published pipelines use
  * 8–13 tokens (a 13-gram collision is essentially never chance English).
  * The harness fixture's synthetic text needs n=3 to exhibit collisions at
  * all; the operator takes `n` as a parameter.
  */
object Decontaminate {

  /** One row per (id, distinct n-gram md5) — the projection both sides of
    * a contamination check consume. Public so callers splitting ONE source
    * table into corpus and eval slices can tokenize it once (and cache the
    * result) instead of running the n-gram pipeline per side. */
  def ngramTable(df: DataFrame, id: Column, text: Column, n: Int,
                 idName: String = "doc_id"): DataFrame =
    // pin: the n-gram explode + per-gram md5 fans out ~|tokens| rows per
    // doc and would otherwise run serial over a mono-split scan — see
    // [[graft.operators.Fanout]]
    graft.operators.Fanout.pin(df)
      .select(id.as(idName),
        explode(array_distinct(TextFunctions.tokenNgrams(text, n))).as("__ng"))
      .withColumn("__ng", md5(col("__ng")))

  /** Per contaminated corpus document: how many distinct eval n-grams it
    * contains (`n_hits`) and how many distinct eval documents it collides
    * with (`n_eval_docs`). Documents with no overlap are absent — callers
    * wanting a keep-list anti-join on the result.
    *
    * Output: (doc_id, n_hits, n_eval_docs).
    */
  def contamination(corpus: DataFrame, corpusId: Column, corpusText: Column,
                    evalSet: DataFrame, evalId: Column, evalText: Column,
                    n: Int): DataFrame =
    contaminationOnNgrams(
      ngramTable(corpus, corpusId, corpusText, n),
      ngramTable(evalSet, evalId, evalText, n, "__eval_id"))

  /** Contamination over pre-built [[ngramTable]] projections (corpus side
    * keyed `doc_id`, eval side keyed `__eval_id`). */
  def contaminationOnNgrams(corpusNg: DataFrame, evalNg: DataFrame): DataFrame =
    corpusNg.join(broadcast(evalNg), "__ng")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("__ng")).as("n_hits"),
        countDistinct(col("__eval_id")).as("n_eval_docs"))
}
