package graft.text

import graft.util.BroadcastGate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** DSIR-style data selection — importance resampling over hashed n-gram
  * features (Data Selection via Importance Resampling, Xie et al. 2023).
  * Pre-training pipelines use it to pick, from a huge raw crawl, the
  * documents that look most like a trusted target corpus: fit bag-of-
  * hashed-ngrams models p_target and p_raw, score each raw document by its
  * log likelihood ratio  log w(x) = Σ_f count_x(f)·(ln p_tgt(f) − ln
  * p_raw(f)), and keep the top-weighted (or Gumbel-top-k) documents.
  * (Builder-prompt extension surface; the reference itself has no text
  * operators — conversion/converter.py:212-233 passes text through.)
  *
  * Distributed shape (the reason this works at 100 TB):
  *   1. feature extraction is per-row Column algebra (tokenize + bigram
  *      transform + md5 bucket) — embarrassingly parallel, no shuffle;
  *   2. the two feature distributions are ONE aggregate each over the
  *      hashed domain — at most `buckets` rows survive, map-side combined;
  *   3. the log-ratio table is `buckets` rows (constant, e.g. 4096) —
  *      BROADCAST back to the feature stream, so scoring is a map-side
  *      join + one per-doc sum. No all-pairs, no global sort: selection
  *      is TakeOrdered top-k.
  *
  * Cross-engine determinism (DuckDB oracle): buckets via md5 (the
  * project's cross-engine hash); the log-ratio quantizes to integer
  * micro-nats AT THE LEAF, per bucket — a ≤`buckets`-sized domain, the
  * same audit argument as UnigramLm's per-(cnt,total) leaf — so per-doc
  * weights are exact integer sums, independent of accumulation order.
  *
  * Overflow envelope: |lr_micro| ≤ ln(total_feats + buckets)·1e6 (< 33e6
  * at 1e14 features = 100 TB of text), so a doc's weight is bounded by
  * n_feats·33e6 — a 1e9-token pathological doc stays under 2^55. Corpus-
  * level sums of weights belong in DECIMAL(38,0) beyond ~1e12 docs; at
  * fixture scale (≤5e5 docs, ≤1e3 feats/doc) long is exact with 2^13
  * headroom.
  */
object Dsir {

  /** Hashed n-gram features: `(doc_id, bucket, cnt)` — unigrams + bigrams
    * of the whitespace-lowercased token stream, md5-hashed into
    * `buckets` buckets (hashing trick: the fixed-size feature space that
    * makes the model two broadcastable aggregates at any corpus size).
    *
    * `buckets` is the FIDELITY knob, not a speed knob (runtime is flat in
    * it — the feature shuffle dominates): size B ≳ 2–4× the distinct-gram
    * count for a selection stable against collisions (measured table in
    * SCALING_sf1.md "the DSIR bucket knob"); past the ~2^24 broadcast
    * ceiling the scoring join degrades gracefully to one shuffle on
    * `bucket` and stays linear.
    *
    * One pass: the unigram and bigram streams concat BEFORE the single
    * explode, so the corpus is tokenized once, and `carry` columns (e.g.
    * the target flag, functionally dependent on the doc) ride the
    * aggregation key instead of forcing a data-sized join back. */
  def features(docs: DataFrame, id: Column, text: Column, buckets: Int,
               carry: Seq[(String, Column)] = Nil): DataFrame = {
    require(buckets > 0, s"need buckets > 0; got $buckets")
    val t = docs.select(id.as("doc_id") +: carry.map { case (n, c) => c.as(n) }
      :+ TextFunctions.tokens(lower(text)).as("toks"): _*)
    val bi = when(size(col("toks")) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(col("toks")) - 2),
        i => concat(element_at(col("toks"), i + 1), lit(" "),
          element_at(col("toks"), i + 2))))
    t.select(col("doc_id") +: carry.map(c => col(c._1))
        :+ explode(concat(col("toks"), bi)).as("g"): _*)
      .withColumn("bucket",
        pmod(conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long"),
          lit(buckets.toLong)))
      .groupBy(col("doc_id") +: carry.map(c => col(c._1))
        :+ col("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Per-document importance weights: `(doc_id, n_feats, weight_micro)`
    * with weight_micro = Σ_buckets cnt·lr_micro(bucket), where lr_micro
    * is the Laplace-(+1)-smoothed log-ratio ln(p_tgt/p_raw) of the bucket
    * in integer micro-nats. `isTarget` marks the target-corpus rows of
    * `docs` (the raw model is fit on ALL rows — the standard setup when
    * selecting from a raw pool that contains the target).
    *
    * Docs with no tokens emit no features and are absent from the output
    * (their weight is the empty sum; callers needing every doc left-join
    * and coalesce to 0). */
  def weights(docs: DataFrame, id: Column, text: Column, isTarget: Column,
              buckets: Int,
              broadcastCeiling: Long = BroadcastGate.CeilingRows): DataFrame = {
    // the target flag rides the feature aggregation key (functionally
    // dependent on doc_id — zero extra groups), so the model aggregates
    // read the feature table directly instead of re-joining a data-sized
    // flag table: ONE corpus-sized shuffle builds everything
    val feat = features(docs, id, text, buckets,
      carry = Seq("is_tgt" -> isTarget.cast("boolean")))
    val raw = feat.groupBy("bucket").agg(sum("cnt").as("cr"))
    val tgt = feat.where(col("is_tgt"))
      .groupBy("bucket").agg(sum("cnt").as("ct"))
    val tot = feat.agg(sum(col("cnt")).as("tr"),
      sum(when(col("is_tgt"), col("cnt")).otherwise(0L)).as("tt"))
    val b = lit(buckets.toLong)
    // leaf quantization: one ln-difference per bucket (≤ `buckets` rows),
    // both quotients cast-to-double of < 2^53 integers (exact), the same
    // floor(x·1e6 + 0.5) the oracle computes — bitwise cross-engine
    val lr = raw.join(tgt, Seq("bucket"), "left").na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"),
        floor((log((col("ct") + 1L).cast("double") /
                   (col("tt") + b).cast("double")) -
               log((col("cr") + 1L).cast("double") /
                   (col("tr") + b).cast("double")))
          * lit(1000000.0) + lit(0.5)).cast("long").as("lr_micro"))
    // the documented web-scale degradation: at B ≤ ceiling the ≤B-row lr
    // table (bucket, lr_micro: 16 B a row) broadcasts (map-side scoring
    // join); past it, one shuffle-hash join on the near-uniform md5 bucket
    // key (build side = the lr partition, B/partitions rows — hinted, so
    // Catalyst's size estimate can never re-broadcast a table we've ruled
    // too big for the driver). Identical values either way — the branches
    // are spec'd bit-equal.
    feat.join(BroadcastGate(lr, buckets, broadcastCeiling, Seq("bucket")),
        "bucket")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_feats"),
        sum(col("cnt") * col("lr_micro")).as("weight_micro"))
  }
}
