package graft.queries

import graft.Tables
import graft.functions.WideDiv.{mulDivWide, ppmWide, wide}
import graft.operators.PageRank.sqlIntegerPageRank
import graft.queries.QueryBlocks.{epochManifest, sqlTrainTokens, trainTokens}
import graft.text.TextFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-verifiable queries for the text-analysis extension operators
  * (graft.text.TextFunctions) over the `documents` table.
  *
  * Oracle notes (DuckDB twins must be *bitwise* mirrors):
  *   - counts are cast to long on the Spark side (DuckDB `len()` returns
  *     BIGINT; a size()-int vs BIGINT schema mismatch would fail the gate);
  *   - doubles come from identical IEEE expression trees on both sides;
  *   - DuckDB `regexp_replace` needs the 'g' flag to match Spark's
  *     replace-all semantics.
  */
object TextQueries {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  /** `t(doc_id, toks)`: every document's lowercased whitespace tokens, the
    * twin of `tokens(lower(col("text")))`. */
  private val docToksCte =
    s"""t AS (
           SELECT doc_id, ${sqlTokens("lower(text)")} AS toks
           FROM documents)"""

  /** `t(doc_id, chars, toks, n_stop, n_punct)`: the per-document inputs
    * of `qualityScore`, lengths as DOUBLE. */
  private val qualityInputsCte =
    s"""t AS (
           SELECT doc_id,
                  CAST(length(text) AS DOUBLE) AS chars,
                  CAST(${sqlTokenCount("text")} AS DOUBLE) AS toks,
                  ${sqlStopwordCount("text")} AS n_stop,
                  ${sqlPunctCount("text")} AS n_punct
           FROM documents)"""

  /** Every document's 32-token chunks at stride 24 (8-token overlap),
    * `(doc_id, chunk_idx, chunk)`. */
  private def docChunks(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      posexplode(chunkTokens(col("text"), 32, 24)).as(Seq("chunk_idx", "chunk")))

  /** DuckDB oracle twin for [[docChunks]]: CTEs `t`, `c`, `e` and
    * `ch(doc_id, chunk_idx, chunk)`. */
  private val docChunksCte =
    s"""t AS (
           SELECT doc_id,
                  ${sqlTokens("text")} AS toks
           FROM documents),
         c AS (
           SELECT doc_id, toks,
                  greatest(CAST(ceil(CAST(len(toks) - 8 AS DOUBLE) / 24) AS INT), 1)
                    AS n_chunks
           FROM t WHERE len(toks) > 0),
         e AS (
           SELECT doc_id, toks, unnest(range(0, n_chunks)) AS i FROM c),
         ch AS (
           SELECT doc_id, i AS chunk_idx,
                  array_to_string(toks[i*24 + 1 : i*24 + 32], ' ') AS chunk
           FROM e)"""

  /** Every adjacent lowercased token pair `(ctx, nxt)` of every document. */
  private def bigramPairs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(tokens(lower(col("text"))).as("toks"))
      .select(explode(
        when(size(col("toks")) < 2,
          array().cast("array<struct<ctx:string,nxt:string>>"))
        .otherwise(transform(sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("ctx"),
            element_at(col("toks"), i + 2).as("nxt"))))).as("p"))
      .select(col("p.ctx").as("ctx"), col("p.nxt").as("nxt"))

  /** Memoized distinct token 3-gram hashes `(doc_id, ng)` of every
    * document: the eval and corpus slices of the decontamination queries
    * both come from this one table. */
  private def decontamNgrams(s: SparkSession, d: String): DataFrame =
    QueryCaches.memo(s, d, "decontam_ngrams") {
      graft.text.Decontaminate.ngramTable(
        docs(s, d), col("doc_id"), col("text"), n = 3)
    }

  /** DuckDB oracle twin for [[decontamNgrams]]: CTEs `t`, `g` and
    * `gd(doc_id, ng)`. */
  private val decontamNgramsCte =
    s"""t AS (
           SELECT doc_id, ${sqlTokens("text")} AS toks
           FROM documents),
         g AS (
           SELECT doc_id, md5(array_to_string(toks[i+1 : i+3], ' ')) AS ng
           FROM t, lateral unnest(range(0, greatest(len(toks) - 2, 0))) u(i)),
         gd AS (SELECT DISTINCT doc_id, ng FROM g)"""

  /** Waterfilling allocation over a BOUNDED (source, cap) frame with
    * budget ⌊bNum·Σcap/bDen⌋ — see q_text_mix_waterfill (which fixes
    * 9/10). Factored so specs can drive synthetic cap profiles and
    * budgets (all-saturated with bNum ≥ bDen, none-saturated, exact
    * boundary) through the same code path the fixture query uses. The
    * Window is over the caller's bounded source domain. */
  private[queries] def waterfill(caps: DataFrame, bNum: Long = 9L,
                                 bDen: Long = 10L): DataFrame = {
    val w = Window.orderBy(col("cap"), col("source"))
    val tot = caps.agg(sum(col("cap")).as("captot"), count(lit(1)).as("m"))
    // localCheckpoint: the m-row flagged table feeds both the t-aggregate
    // and the final projection — without it each re-runs the corpus token
    // aggregate (tiny-frame precedent: Similarity.kmeansCentroids)
    val flagged = caps.crossJoin(broadcast(tot))
      .withColumn("b", expr(s"captot * $bNum DIV $bDen"))
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("sk", sum(col("cap")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("sat",
        when(col("cap") * (col("m") - col("k")) <= col("b") - col("sk"), 1L)
          .otherwise(0L))
      .localCheckpoint(false)
    val t = flagged.agg(sum(col("sat")).as("t"),
      coalesce(max(when(col("sat") === 1L, col("sk"))), lit(0L)).as("st0"))
    flagged.crossJoin(broadcast(t))
      .withColumn("level",
        when(col("t") === col("m"), lit(-1L))
          .otherwise(expr("(b - st0) DIV (m - t)")))
      .select(col("source"), col("cap").as("cap_tokens"),
        when(col("sat") === 1L, col("cap"))
          .otherwise(least(col("cap"), col("level"))).as("alloc_tokens"),
        col("sat").as("saturated"), col("level"))
      .orderBy(col("source"))
  }

  /** Memoized positional postings `(doc_id, pos, tok)` — six queries
    * (phrase, span removal, skip-grams, entropy, TF-IDF, hash vectors)
    * consume the same tokenize+explode, so the suite materializes it
    * once (lifecycle in [[QueryCaches]]). */
  private def postings(s: SparkSession, d: String): DataFrame =
    QueryCaches.memo(s, d, "text_postings") {
      docs(s, d).select(col("doc_id"),
        posexplode(tokens(lower(col("text")))).as(Seq("pos", "tok")))
    }

  /** DuckDB oracle twin for [[postings]]: [[docToksCte]] and
    * `<cte>(doc_id, <tok>, pos)` — generate_subscripts expands in lockstep
    * with unnest (1-based → pos-1 matches Spark's 0-based posexplode). */
  private def postingsCtes(cte: String = "x", tok: String = "tok"): String =
    s"""$docToksCte,
         $cte AS (
           SELECT doc_id, unnest(toks) AS $tok,
                  generate_subscripts(toks, 1) - 1 AS pos
           FROM t)"""

  /** Memoized DSIR per-doc importance weights (target = the `en` stratum,
    * 4096 hashed unigram+bigram buckets) — the select and shift rows read
    * the same scoring pass (lifecycle in [[QueryCaches]]). */
  private def dsirWeights(s: SparkSession, d: String): DataFrame =
    QueryCaches.memo(s, d, "dsir_weights") {
      graft.text.Dsir.weights(docs(s, d), col("doc_id"), col("text"),
        col("lang") === "en", buckets = 4096)
    }

  /** Shared DSIR oracle CTE body (through `w`, the per-doc weight table):
    * bitwise mirror of [[graft.text.Dsir.weights]] — same tokenizer, same
    * md5 buckets, same Laplace-(+1) ln-difference quantized to micro-nats
    * per bucket BEFORE the per-doc sum. */
  private val dsirCte: String =
    s"""WITH t AS (
         SELECT doc_id, lang = 'en' AS is_tgt,
                ${sqlTokens("lower(text)")}
                  AS toks
         FROM documents),
       g AS (
         SELECT doc_id, is_tgt, unnest(toks) AS g FROM t
         UNION ALL
         SELECT doc_id, is_tgt, toks[i + 1] || ' ' || toks[i + 2] AS g
         FROM t, lateral unnest(range(0, greatest(len(toks) - 1, 0))) u(i)),
       f AS (
         SELECT doc_id, is_tgt,
                CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 4096
                  AS bucket,
                CAST(count(*) AS BIGINT) AS cnt
         FROM g GROUP BY 1, 2, 3),
       raw AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cr
               FROM f GROUP BY 1),
       tgt AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS ct
               FROM f WHERE is_tgt GROUP BY 1),
       tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tr,
                      CAST(sum(CASE WHEN is_tgt THEN cnt ELSE 0 END)
                        AS BIGINT) AS tt
               FROM f),
       lr AS (
         SELECT raw.bucket,
                CAST(floor(
                  (ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE)
                      / CAST(tt + 4096 AS DOUBLE))
                   - ln(CAST(cr + 1 AS DOUBLE)
                        / CAST(tr + 4096 AS DOUBLE)))
                  * 1000000.0 + 0.5) AS BIGINT) AS lr_micro
         FROM raw LEFT JOIN tgt USING (bucket), tot),
       w AS (
         SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
                CAST(sum(cnt * lr_micro) AS BIGINT) AS weight_micro
         FROM f JOIN lr USING (bucket) GROUP BY 1)"""

  /** The 100 documents of highest DSIR weight in `w`, ties by doc_id. */
  private def dsirSelect(s: SparkSession, d: String, w: DataFrame): DataFrame =
    w.join(docs(s, d).select("doc_id", "source", "lang"), "doc_id")
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_feats"), col("weight_micro"))
      .orderBy(col("weight_micro").desc, col("doc_id"))
      .limit(100)

  /** DuckDB oracle twin for [[dsirSelect]] over [[dsirCte]]. */
  private val sqlDsirSelect =
    dsirCte +
      """
       SELECT w.doc_id, d.source, d.lang, n_feats, weight_micro
       FROM w JOIN documents d USING (doc_id)
       ORDER BY weight_micro DESC, doc_id LIMIT 100"""

  /** Shared BM25 oracle CTE body (through `lexr`, the per-query rank
    * table): bitwise mirror of [[graft.text.Bm25.topK]] with k1=1.2,
    * b=0.75 as exact integer rationals (44 = 20·(k1+1), 6 = 20·k1·(1−b),
    * 18 = 20·k1·b) and the audited idf ln site —
    * consumed by q_text_bm25 and the RRF fusion oracle in
    * [[SimilarityQueries]], so the two stay in lockstep by construction.
    *
    * @param qBag SQL predicate selecting the query-doc bag. The default
    *             (first 10 docs) is what q_sim_rrf_fusion pairs with its
    *             vector leg; q_text_bm25 itself passes the informative-doc
    *             bag — on this fixture's 31-token vocabulary only one term
    *             ever clears the 30% stop cut, and whether a low-id doc
    *             carries it is luck (it does at sf0.01, not at sf0.1/sf1 —
    *             the gate row was silently vacuous there until the sf1
    *             run flagged it). */
  private[queries] def bm25RankCte(qBag: String = "doc_id < 10"): String =
    raw"""$docToksCte,
         p AS (
           SELECT nid, dl, tok, CAST(count(*) AS BIGINT) AS tf FROM (
             SELECT doc_id AS nid, CAST(len(toks) AS BIGINT) AS dl,
                    unnest(toks) AS tok
             FROM t)
           GROUP BY 1, 2, 3),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CAST(len(toks) AS BIGINT)) AS BIGINT) AS sumdl
                FROM t),
         dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
         dfi AS (SELECT tok, df,
                        CAST(floor(ln((st.n - df + 0.5) / (df + 0.5) + 1.0)
                               * 1000000.0 + 0.5) AS BIGINT) AS idf_micro,
                        st.n, st.sumdl
                 FROM dft, st),
         q AS (SELECT doc_id AS qid, unnest(list_distinct(toks)) AS tok
               FROM t WHERE $qBag),
         qd AS (SELECT q.qid, dfi.tok, dfi.idf_micro, dfi.n, dfi.sumdl
                FROM q JOIN dfi USING (tok)
                WHERE dfi.df * 1000 <= dfi.n * 300),
         sc AS (
           SELECT qd.qid, p.nid,
                  (2 * qd.idf_micro * (44 * p.tf * qd.sumdl)
                   + (20 * p.tf * qd.sumdl + 6 * qd.sumdl + 18 * p.dl * qd.n))
                  // (2 * (20 * p.tf * qd.sumdl + 6 * qd.sumdl + 18 * p.dl * qd.n))
                    AS sm
           FROM p JOIN qd USING (tok)
           WHERE p.nid != qd.qid),
         ag AS (SELECT qid, nid, CAST(sum(sm) AS BIGINT) AS score_micro
                FROM sc GROUP BY 1, 2),
         lexr AS (SELECT qid, nid, score_micro,
                      CAST(row_number() OVER (PARTITION BY qid
                        ORDER BY score_micro DESC, nid) AS BIGINT) AS rank
               FROM ag)"""

  /** BM25 top-`k` corpus matches, stop-terms cut at df > 30% of the
    * corpus, for the informative query bag: the 10 lowest-id docs carrying
    * ≥1 informative (sub-30%-df) term. A fixed first-10 bag is fixture
    * luck — on the 31-token vocabulary only one term clears the stop cut,
    * and no low-id doc carries it at sf0.1/sf1, which made the q_text_bm25
    * gate row silently vacuous there (caught by the sf1 VACUOUS status). */
  private def bm25Informative(s: SparkSession, d: String, k: Int): DataFrame = {
    val all = docs(s, d)
    val n = all.agg(count(lit(1)).as("n"))
    val docTok = postings(s, d).select(col("doc_id"), col("tok")).distinct()
    val nonstop = docTok.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .where(col("df") * 1000 <= col("n") * 300).select("tok")
    val qids = docTok.join(broadcast(nonstop), "tok")
      .select("doc_id").distinct().orderBy("doc_id").limit(10)
    graft.text.Bm25.topK(all, col("doc_id"), col("text"),
      all.join(broadcast(qids), "doc_id"), col("doc_id"), col("text"),
      k = k, maxDfPermille = 300)
  }

  /** The [[bm25RankCte]] query bag of [[bm25Informative]]. */
  private val informativeBag =
    """doc_id IN (
         SELECT nid FROM (
           SELECT DISTINCT p.nid FROM p JOIN dfi USING (tok)
           WHERE dfi.df * 1000 <= dfi.n * 300)
         ORDER BY nid LIMIT 10)"""

  /** Shared langid CTE chain (q_text_langid and q_text_langid_eval must
    * agree verbatim); the prediction over it is `sqlLangPred`. */
  private lazy val sqlLangidCtes =
    s"""WITH t AS (
          SELECT doc_id, lang, text, ${sqlTokens("lower(text)")} AS toks FROM documents),
        s AS (
          SELECT doc_id, lang, text, $sqlLangScores
          FROM t)"""

  val registry: Seq[Q] = Seq(
    // whitespace + BPE-ish token counting
    Q("q_text_tokens", (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_ws_tokens"),
        bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
        length(col("text")).cast("long").as("len_chars"))
        .orderBy("doc_id"),
      s"""SELECT doc_id,
                ${sqlTokenCount("text")} AS n_ws_tokens,
                ${sqlBpeTokenCount("text")} AS n_bpe_tokens,
                length(text) AS len_chars
         FROM documents ORDER BY doc_id"""),

    // quality scoring: stopword/punct ratios + combined [0,1] score
    Q("q_text_quality", (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        stopwordCount(col("text")).cast("long").as("n_stop"),
        punctCount(col("text")).cast("long").as("n_punct"),
        qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      s"""WITH $qualityInputsCte
         SELECT doc_id, n_stop, n_punct,
                0.4 * least(1.0, chars / 500.0)
              + 0.3 * least(1.0, 4.0 * (CAST(n_stop AS DOUBLE) / greatest(toks, 1.0)))
              + 0.3 * (1.0 - least(1.0, 10.0 * (CAST(n_punct AS DOUBLE) / greatest(chars, 1.0)))) AS quality
         FROM t ORDER BY doc_id"""),

    // Flesch-style readability in exact integer micros: sentence count
    // from terminator runs, whitespace words, vowel-group syllable proxy,
    // then 206.835 − 1.015·(w/s) − 84.6·(syll/w) with each ratio as a
    // defined integer division (guarded at 1) — a map-only curation
    // signal, bitwise across engines
    Q("q_text_readability", (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        sentenceCount(col("text")).cast("long").as("n_sents"),
        tokenCount(col("text")).cast("long").as("n_words"),
        vowelGroupCount(col("text")).cast("long").as("n_syll"))
        .withColumn("flesch_micro",
          lit(206835000L)
            - call_function("div", lit(1015000L) * col("n_words"),
              greatest(lit(1L), col("n_sents")))
            - call_function("div", lit(84600000L) * col("n_syll"),
              greatest(lit(1L), col("n_words"))))
        .orderBy("doc_id"),
      s"""WITH f AS (
           SELECT doc_id,
                  CAST(${sqlSentenceCount("text")} AS BIGINT) AS n_sents,
                  CAST(${sqlTokenCount("text")} AS BIGINT) AS n_words,
                  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS n_syll
           FROM documents)
         SELECT doc_id, n_sents, n_words, n_syll,
                206835000 - (1015000 * n_words) // greatest(1, n_sents)
                          - (84600000 * n_syll) // greatest(1, n_words)
                  AS flesch_micro
         FROM f ORDER BY doc_id"""),

    // language-ID heuristic vs the fixture's labeled lang
    // classifier evaluation: confusion matrix of the langid heuristic
    // against the fixture's ground-truth label — the quality-measurement
    // loop every heuristic filter needs
    Q("q_text_langid_eval", (s, d) =>
      // staged scores (one filter() eval per profile per row; values
      // identical to the inline langId) — opt r13, guide §4
      withLangId(docs(s, d), col("text"), "lang_pred")
        .select(col("lang"), col("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred"),
      // confusion matrix of the langid heuristic against the fixture's
      // ground-truth label — same prediction CTEs as q_text_langid
      s"""$sqlLangidCtes,
          p AS (SELECT lang, ${sqlLangPred("text")} AS lang_pred FROM s)
          SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
          FROM p GROUP BY 1, 2 ORDER BY lang, lang_pred"""),

    Q("q_text_langid", (s, d) =>
      withLangId(docs(s, d), col("text"), "lang_pred")
        .select(col("doc_id"), col("lang"), col("lang_pred"))
        .orderBy("doc_id"),
      s"""$sqlLangidCtes
          SELECT doc_id, lang, ${sqlLangPred("text")} AS lang_pred
          FROM s ORDER BY doc_id"""),

    // md5 + polynomial rolling-hash fingerprints
    Q("q_text_fingerprint", (s, d) =>
      docs(s, d).select(
        col("doc_id"),
        fingerprintMd5(col("text")).as("fp_md5"),
        fingerprintRolling(col("text")).as("fp_roll"))
        .orderBy("doc_id"),
      s"""WITH n AS (
           SELECT doc_id, ${sqlNormalized("text")} AS norm
           FROM documents)
         SELECT doc_id, md5(norm) AS fp_md5,
                CASE WHEN length(norm) = 0 THEN 0
                     ELSE list_reduce(
                            list_prepend(CAST(0 AS BIGINT),
                              list_transform(string_split(norm, ''),
                                ch -> CAST(ord(ch) AS BIGINT))),
                            (a, b) -> (a * 31 + b) % 1000000007) END AS fp_roll
         FROM n ORDER BY doc_id"""),

    // PII scrub: masked text + per-kind match counts (fixture text has no
    // PII, so redaction must be the identity — the counts prove it ran)
    Q("q_text_redact", (s, d) =>
      docs(s, d).withColumn("pii", piiCounts(col("text")))
        .select(
          col("doc_id"),
          md5(redactPii(col("text"))).as("redacted_md5"),
          col("pii.n_email").as("n_email"),
          col("pii.n_url").as("n_url"),
          col("pii.n_phone").as("n_phone"))
        .orderBy("doc_id"),
      """SELECT doc_id,
                md5(regexp_replace(
                      regexp_replace(
                        regexp_replace(text,
                          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                        'https?://[^\s]+', '<URL>', 'g'),
                      '\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}',
                      '<PHONE>', 'g')) AS redacted_md5,
                len(regexp_extract_all(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_url,
                len(regexp_extract_all(text,
                    '\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}')) AS n_phone
         FROM documents ORDER BY doc_id"""),

    // long-document chunking: 32-token windows, stride 24 (8-token overlap)
    Q("q_text_chunks", (s, d) =>
      docChunks(s, d)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          md5(col("chunk")).as("chunk_md5"),
          size(split(col("chunk"), " ")).cast("long").as("n_chunk_tokens"))
        .orderBy("doc_id", "chunk_idx"),
      s"""WITH $docChunksCte
         SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                md5(chunk) AS chunk_md5,
                CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_chunk_tokens
         FROM ch ORDER BY doc_id, chunk_idx"""),

    // content-stable train/val split: md5 bucket < 95 → train; the split
    // never moves an example across runs or partitionings
    Q("q_text_split", (s, d) =>
      docs(s, d).select(col("doc_id"),
        splitBucket(col("doc_id")).as("bucket"))
        .withColumn("split", when(col("bucket") < 95, lit("train")).otherwise(lit("val")))
        .orderBy("doc_id"),
      """SELECT doc_id,
                CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100
                  AS bucket,
                CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100 < 95
                     THEN 'train' ELSE 'val' END AS split
         FROM documents ORDER BY doc_id"""),

    // end-to-end corpus curation funnel, per source: quality gate →
    // langid-vs-label gate → exact-dedup keep (min doc_id per
    // fingerprint) — the composed pipeline a curation run actually
    // executes, verified as one query
    // budget-constrained corpus selection — the capstone composition of
    // three subsystems: MinHash near-dup clusters (one representative per
    // cluster: best quality, doc_id tie-break — per-key window state),
    // the quality score, and a token budget (60% of the representatives'
    // total). Global selection order = (quality desc, doc_id) through
    // StableIds.rankAndCumSums — the running token sum never funnels
    // through one window partition. The "which docs make the training
    // cut" decision a curation pipeline executes after dedup + scoring.
    Q("q_text_budget_select", (s, d) => {
      import graft.operators.StableIds
      val q = docs(s, d).select(col("doc_id"),
        qualityScore(col("text")).as("quality"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      val withCl = q
        .join(DedupQueries.textClusterTable(s, d), Seq("doc_id"), "left")
        .withColumn("cl", coalesce(col("cluster_id"), col("doc_id")))
      val w = Window.partitionBy(col("cl"))
        .orderBy(col("quality").desc, col("doc_id"))
      val reps = withCl.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("quality"), col("n_tokens"))
      val ranked = StableIds.rankAndCumSums(reps,
        Seq(-col("quality"), col("doc_id")),
        Seq("n_tokens" -> "cum_tokens"))
      val budget = reps.agg(
        mulDivWide(sum(col("n_tokens")), lit(3L), lit(5L)).as("budget"))
      ranked.crossJoin(broadcast(budget))
        .where(col("cum_tokens") <= col("budget"))
        .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
          col("budget"))
        .orderBy(col("doc_id"))
    },
      s"""${DedupQueries.clustersCte},
          qd AS (
            SELECT doc_id,
                   0.4 * least(1.0, CAST(length(text) AS DOUBLE) / 500.0)
                 + 0.3 * least(1.0, 4.0 * (CAST(${sqlStopwordCount("text")} AS DOUBLE)
                     / greatest(CAST(${sqlTokenCount("text")} AS DOUBLE), 1.0)))
                 + 0.3 * (1.0 - least(1.0, 10.0 * (CAST(${sqlPunctCount("text")} AS DOUBLE)
                     / greatest(CAST(length(text) AS DOUBLE), 1.0)))) AS quality,
                   CAST(${sqlTokenCount("text")} AS BIGINT) AS n_tokens
            FROM documents),
          wq AS (SELECT q.doc_id, q.quality, q.n_tokens,
                        COALESCE(cl.cluster_id, q.doc_id) AS c
                 FROM qd q LEFT JOIN cl ON cl.doc_id = q.doc_id),
          reps AS (SELECT doc_id, quality, n_tokens FROM (
                     SELECT *, row_number() OVER (PARTITION BY c
                       ORDER BY quality DESC, doc_id) AS rn FROM wq)
                   WHERE rn = 1),
          bt AS (SELECT CAST(CAST(sum(n_tokens) AS HUGEINT) * 3 // 5
                   AS BIGINT) AS budget FROM reps),
          r AS (SELECT doc_id, n_tokens,
                  CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_tokens
                FROM reps)
          SELECT doc_id, n_tokens, cum_tokens, bt.budget
          FROM r, bt WHERE cum_tokens <= bt.budget ORDER BY doc_id"""),

    Q("q_text_curate", (s, d) => {
      val base = withLangId(
        docs(s, d)
          .select(col("doc_id"), col("source"), col("lang"), col("n_chars"), col("text"))
          .withColumn("quality", qualityScore(col("text"))),
        col("text"), "pred") // staged scores — opt r13, guide §4
      val surv = base.where(col("quality") >= 0.5 && col("pred") === col("lang"))
        .withColumn("fp", fingerprintMd5(col("text")))
      val kept = surv.withColumn("keep",
          min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("fp"))))
        .where(col("doc_id") === col("keep"))
      base.groupBy(col("source")).agg(
          count(lit(1)).as("n_total"),
          count(when(col("quality") >= 0.5, 1)).as("n_quality"),
          count(when(col("quality") >= 0.5 && col("pred") === col("lang"), 1)).as("n_lang"))
        .join(kept.groupBy(col("source")).agg(
          count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars")),
          Seq("source"), "left")
        .na.fill(0L, Seq("n_kept", "kept_chars"))
        .orderBy("source")
    },
      s"""WITH t AS (
            SELECT doc_id, source, lang, n_chars, text,
                   CAST(length(text) AS DOUBLE) AS chars,
                   CAST(${sqlTokenCount("text")} AS DOUBLE) AS toksn,
                   ${sqlStopwordCount("text")} AS n_stop,
                   ${sqlPunctCount("text")} AS n_punct,
                   ${sqlTokens("lower(text)")} AS toks
            FROM documents),
          q AS (
            SELECT *,
                   0.4 * least(1.0, chars / 500.0)
                 + 0.3 * least(1.0, 4.0 * (CAST(n_stop AS DOUBLE) / greatest(toksn, 1.0)))
                 + 0.3 * (1.0 - least(1.0, 10.0 * (CAST(n_punct AS DOUBLE) / greatest(chars, 1.0)))) AS quality
            FROM t),
          sc AS (
            SELECT *, $sqlLangScores
            FROM q),
          l AS (
            SELECT *,
                   ${sqlLangPred("text")} AS pred
            FROM sc),
          surv AS (
            SELECT *, md5(${sqlNormalized("text")}) AS fp
            FROM l WHERE quality >= 0.5 AND pred = lang),
          kept AS (
            SELECT * FROM (
              SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep FROM surv)
            WHERE doc_id = keep),
          funnel AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_total,
                   CAST(count(CASE WHEN quality >= 0.5 THEN 1 END) AS BIGINT) AS n_quality,
                   CAST(count(CASE WHEN quality >= 0.5 AND pred = lang THEN 1 END) AS BIGINT) AS n_lang
            FROM l GROUP BY 1),
          ka AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(sum(n_chars) AS BIGINT) AS kept_chars
            FROM kept GROUP BY 1)
          SELECT funnel.source, n_total, n_quality, n_lang,
                 coalesce(n_kept, 0) AS n_kept, coalesce(kept_chars, 0) AS kept_chars
          FROM funnel LEFT JOIN ka ON funnel.source = ka.source
          ORDER BY funnel.source"""),

    // contiguous sequence packing: 256-token bins in doc_id order via the
    // distributed two-phase prefix sum (no single-partition window) —
    // exact-mirrored by the oracle's running-window formulation. Token
    // counts use the proven q_text_tokens formula on raw text (whitespace
    // token count is invariant under normalization, and the r3 driver gate
    // showed the oracle's regexp_replace-then-split combination is the one
    // tokenization shape no passing query exercises — keep both sides on
    // the exercised path).
    Q("q_text_packing", (s, d) => {
      val withN = docs(s, d).select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Packing.packByBudget(withN, col("doc_id"),
          col("n_tokens"), budget = 256L)
        .select("doc_id", "n_tokens", "bin")
        .orderBy("doc_id")
    },
      s"""WITH n AS (
           SELECT doc_id,
                  ${sqlTokenCount("text")} AS nt
           FROM documents),
         p AS (
           SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
                  coalesce(sum(CAST(nt AS BIGINT)) OVER
                    (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
           FROM n)
         SELECT doc_id, n_tokens, CAST(pfx // 256 AS BIGINT) AS bin
         FROM p ORDER BY doc_id"""),

    // end-of-pipeline sequence assembly: concatenate each packed bin's
    // documents (doc_id order, newline-joined) into the actual training
    // sequence — emitted as md5 + stats so the oracle verifies the exact
    // assembled bytes without shipping them. In-bin order is made
    // deterministic by sorting the collected (doc_id, text) structs
    Q("q_text_pack_assemble", (s, d) => {
      val withN = docs(s, d).select(col("doc_id"), col("text"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Packing.packByBudget(withN, col("doc_id"),
          col("n_tokens"), budget = 256L)
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            e => e.getField("text")), "\n")).as("seq_md5"))
        .orderBy("bin")
    },
      s"""WITH n AS (
           SELECT doc_id, text,
                  ${sqlTokenCount("text")} AS nt
           FROM documents),
         p AS (
           SELECT doc_id, text, CAST(nt AS BIGINT) AS n_tokens,
                  coalesce(sum(CAST(nt AS BIGINT)) OVER
                    (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
           FROM n),
         b AS (SELECT doc_id, text, n_tokens, CAST(pfx // 256 AS BIGINT) AS bin FROM p)
         SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                md5(string_agg(text, chr(10) ORDER BY doc_id)) AS seq_md5
         FROM b GROUP BY 1 ORDER BY bin"""),

    // tokenizer-aware pack-and-shuffle EPOCH ASSEMBLER (r7 ask #7): the
    // full pretraining batch-assembly composition in one operator chain —
    //   1. leakage-free split on the CONTENT group (split bucket keyed on
    //      md5(text), so byte-identical docs land in one split),
    //   2. per-epoch deterministic shuffle: order key = md5("epoch<e>:" ||
    //      doc_id) ++ zero-padded doc_id (the pad makes the key unique, so
    //      the layout is total-order deterministic — no RNG state, any
    //      executor count replays it),
    //   3. Packing.packByBudget lays the shuffled stream into 512-token
    //      bins (range-partitioned prefix sums — no global window),
    //   4. manifest row per (epoch, bin): doc count, token mass, and the
    //      md5 of the doc_id sequence in pack order — the artifact a
    //      trainer consumes and the oracle verifies byte-for-byte.
    Q("q_text_epoch_manifest", (s, d) => {
      val base = trainTokens(docs(s, d))
      val perEpoch = (0L to 1L).map { e =>
        epochManifest(base, e)
          .withColumn("epoch", lit(e))
      }
      perEpoch.reduce(_ unionByName _)
        .select("epoch", "bin", "n_docs", "total_tokens", "manifest_md5")
        .orderBy("epoch", "bin")
    },
      s"""WITH ${sqlTrainTokens("documents")},
         k AS (
           SELECT t.e, doc_id, n_tokens,
                  md5('epoch' || CAST(t.e AS VARCHAR) || ':' ||
                      CAST(doc_id AS VARCHAR)) ||
                    lpad(CAST(doc_id AS VARCHAR), 12, '0') AS okey
           FROM tr CROSS JOIN (SELECT * FROM (VALUES (0), (1)) AS v(e)) t),
         p AS (
           SELECT e, doc_id, n_tokens, okey,
                  coalesce(sum(n_tokens) OVER
                    (PARTITION BY e ORDER BY okey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS pfx
           FROM k),
         b AS (SELECT e, doc_id, n_tokens, okey,
                      CAST(pfx // 512 AS BIGINT) AS bin FROM p)
         SELECT CAST(e AS BIGINT) AS epoch, bin,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY okey))
                  AS manifest_md5
         FROM b GROUP BY 1, 2 ORDER BY epoch, bin"""),

    // term burstiness (Church–Gale): variance-to-mean ratio of per-doc
    // counts over ALL docs (zeros included via the closed form
    // (N·Σc² − (Σc)²)/(N·Σc)) — bursty terms concentrate in few docs,
    // uniform terms spread evenly; the signal separating topical terms
    // from function words. Exact integer ppm; one (tok, doc) aggregate
    // then vocab-sized arithmetic
    Q("q_text_burstiness", (s, d) => {
      val perDoc = postings(s, d).groupBy(col("tok"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
      val nDocs = docs(s, d).agg(count(lit(1)).as("nd"))
      perDoc.groupBy(col("tok"))
        .agg(sum(col("c")).as("sc"), sum(col("c") * col("c")).as("sc2"),
          count(lit(1)).as("n_docs_with"))
        .crossJoin(broadcast(nDocs))
        // sc/sc2 are token-count sums; nd·sc2 and sc² are their squares —
        // products built wide, numerator ≥ 0 by Cauchy–Schwarz
        .select(col("tok"), col("n_docs_with"), col("sc").as("total"),
          mulDivWide(wide(col("nd")) * wide(col("sc2"))
              - wide(col("sc")) * wide(col("sc")),
            lit(1000000L), wide(col("nd")) * wide(col("sc"))).as("vmr_ppm"))
        .orderBy(col("total").desc, col("tok"))
        .limit(20)
    },
      s"""WITH $docToksCte,
         x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         pd AS (SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c
                FROM x GROUP BY 1, 2),
         nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM t),
         st AS (SELECT tok, CAST(sum(c) AS BIGINT) AS sc,
                       CAST(sum(c * c) AS BIGINT) AS sc2,
                       CAST(count(*) AS BIGINT) AS n_docs_with
                FROM pd GROUP BY 1)
         SELECT tok, n_docs_with, sc AS total,
                CAST((CAST(nd.nd AS HUGEINT) * sc2 - CAST(sc AS HUGEINT) * sc)
                     * 1000000 // (CAST(nd.nd AS HUGEINT) * sc)
                  AS BIGINT) AS vmr_ppm
         FROM st, nd
         ORDER BY total DESC, tok LIMIT 20"""),

    // shard-boundary stitch detection: doc A's last m tokens equal doc
    // B's first m — the signature of a document split across shard
    // boundaries, found as one md5 equi-join of a suffix-hash table
    // against a prefix-hash table (no text comparison crosses the wire).
    // m is corpus-tuned: 3 on the random synthetic fixture; real split
    // corpora use 32+ where a match is near-certain evidence
    Q("q_text_stitch_pairs", (s, d) => {
      val t = docs(s, d)
        .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
        .where(size(col("toks")) >= 3)
      val pre = t.select(col("doc_id").as("idb"),
        md5(concat_ws(" ", slice(col("toks"), lit(1), lit(3)))).as("h"))
      val suf = t.select(col("doc_id").as("ida"),
        md5(concat_ws(" ", slice(col("toks"), lit(-3), lit(3)))).as("h"))
      suf.join(pre, "h")
        .where(col("ida") =!= col("idb"))
        .select(col("ida"), col("idb"))
        .orderBy("ida", "idb")
    },
      s"""WITH $docToksCte,
         f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 3),
         pre AS (SELECT doc_id AS idb,
                        md5(array_to_string(toks[1:3], ' ')) AS h
                 FROM f),
         suf AS (SELECT doc_id AS ida,
                        md5(array_to_string(toks[len(toks)-2:len(toks)], ' ')) AS h
                 FROM f)
         SELECT ida, idb FROM suf JOIN pre USING (h)
         WHERE ida != idb ORDER BY ida, idb"""),

    // interpolated Kneser–Ney bigram LM with discount d = 3/4, as EXACT
    // integer rationals: P(w|v) = max(c(v,w)−d,0)/c(v) + λ(v)·P_cont(w)
    // over the common denominator 4·c(v)·N gives numerator
    // max(4c−3,0)·N + 3·N₁₊(v·)·N₁₊(·w) — pure 64-bit integers, so the
    // smoothed probabilities (ppm) are engine-exact with no ln/float
    // surface at all. Top-3 continuations per context; the aggregates
    // are one bigram shuffle plus joins on vocabulary-sized tables
    Q("q_text_kn_lm", (s, d) => {
      val pairs = bigramPairs(s, d)
      val big = pairs.groupBy(col("ctx"), col("nxt"))
        .agg(count(lit(1)).as("cvw"))
      val cv = pairs.groupBy(col("ctx")).agg(count(lit(1)).as("cv"))
      val n1v = big.groupBy(col("ctx")).agg(count(lit(1)).as("n1v"))
      val n1w = big.groupBy(col("nxt")).agg(count(lit(1)).as("n1w"))
      val nn = big.agg(count(lit(1)).as("nn"))
      val scored = big
        .join(cv, "ctx").join(n1v, "ctx").join(n1w, "nxt")
        .crossJoin(broadcast(nn))
        .withColumn("p_kn_ppm", expr(
          "(greatest(4 * cvw - 3, 0) * nn + 3 * n1v * n1w) * 1000000" +
            " DIV (4 * cv * nn)"))
      val w = Window.partitionBy(col("ctx"))
        .orderBy(col("p_kn_ppm").desc, col("nxt"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select("ctx", "rank", "nxt", "cvw", "p_kn_ppm")
        .orderBy("ctx", "rank")
    },
      s"""WITH ${postingsCtes("tok")},
         pr AS (
           SELECT ctx, nxt FROM (
             SELECT tok AS ctx,
                    lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
             FROM tok)
           WHERE nxt IS NOT NULL),
         big AS (SELECT ctx, nxt, CAST(count(*) AS BIGINT) AS cvw
                 FROM pr GROUP BY 1, 2),
         cv AS (SELECT ctx, CAST(count(*) AS BIGINT) AS cv FROM pr GROUP BY 1),
         n1v AS (SELECT ctx, CAST(count(*) AS BIGINT) AS n1v FROM big GROUP BY 1),
         n1w AS (SELECT nxt, CAST(count(*) AS BIGINT) AS n1w FROM big GROUP BY 1),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM big),
         sc AS (
           SELECT big.ctx, big.nxt, big.cvw,
                  CAST((greatest(4 * big.cvw - 3, 0) * nn.nn
                        + 3 * n1v.n1v * n1w.n1w) * 1000000
                       // (4 * cv.cv * nn.nn) AS BIGINT) AS p_kn_ppm
           FROM big
           JOIN cv USING (ctx) JOIN n1v USING (ctx) JOIN n1w USING (nxt)
           CROSS JOIN nn),
         r AS (
           SELECT ctx, nxt, cvw, p_kn_ppm,
                  CAST(row_number() OVER (PARTITION BY ctx
                    ORDER BY p_kn_ppm DESC, nxt) AS BIGINT) AS rank
           FROM sc)
         SELECT ctx, rank, nxt, cvw, p_kn_ppm FROM r WHERE rank <= 3
         ORDER BY ctx, rank"""),

    // vocabulary coverage curve: cumulative token mass of the top-k
    // vocabulary, per rank — the Zipf audit that sizes a tokenizer
    // vocabulary ("k tokens cover X% of the corpus"). The raw-token
    // vocabulary is UNBOUNDED at corpus scale (whitespace tokens, not a
    // fixed vocab), so rank + running sum come from the StableIds two-phase
    // prefix scan (range-partition → per-partition offsets → map-side
    // scan), not a global-ORDER-BY window. Integer ppm coverage
    Q("q_text_vocab_coverage", (s, d) => {
      val cnts = postings(s, d).groupBy(col("tok"))
        .agg(count(lit(1)).as("c"))
      val tot = cnts.agg(sum(col("c")).as("t"))
      graft.operators.StableIds.rankAndCumSums(cnts,
          Seq(col("c").desc, col("tok")), Seq("c" -> "cum"))
        .crossJoin(broadcast(tot))
        .select(col("rank"), col("tok"), col("c"),
          // cum is a token-count sum — wide path past ~9.2e12 tokens
          ppmWide(col("cum"), col("t")).as("coverage_ppm"))
        .orderBy("rank")
    },
      s"""WITH t AS (
           SELECT ${sqlTokens("lower(text)")} AS toks
           FROM documents),
         x AS (SELECT unnest(toks) AS tok FROM t),
         c AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY 1),
         tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM c),
         r AS (SELECT tok, c,
                      CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT)
                        AS rank,
                      CAST(sum(c) OVER (ORDER BY c DESC, tok
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum
               FROM c)
         SELECT rank, tok, c,
                CAST(CAST(cum AS HUGEINT) * 1000000 // CAST(t AS HUGEINT)
                  AS BIGINT) AS coverage_ppm
         FROM r, tt ORDER BY rank"""),

    // temperature-scaled mixing weights (α = 0.5): sample sources ∝
    // √tokens — the standard rebalance that upweights small sources
    // without letting the biggest dominate. √ is IEEE-correctly-rounded
    // (bit-identical across engines); it is quantized to integer micro
    // units AT THE LEAF (audited site, QuantBoundarySpec) so the shares
    // and epoch factors are pure integer arithmetic. One aggregate over
    // documents; everything else on the sources-sized table
    // Waterfilling mixture allocation under availability caps — the
    // budgeting step temperature/sqrt weighting cannot do: given a token
    // budget B = ⌊0.9·total⌋ and per-source available tokens cap_i, find
    // the level L with Σ min(cap_i, L) = B; sources below L are taken
    // whole ("saturated" — their data is scarcer than the mixture wants),
    // the rest contribute exactly ⌊L⌋. Closed form over the BOUNDED
    // sources domain (one corpus-sized token aggregate, then an
    // ≤m-row window): ascending caps, saturated iff
    // c_k·(m−k) ≤ B − S_k (the prefix property is exact — f(k) is
    // non-increasing), L = (B − S_t) DIV (m − t). At sf0.01 the budget
    // saturates exactly two sources, so BOTH branches gate. Floor-level
    // semantics (Σalloc ≤ B by < m−t tokens) are the cross-engine
    // contract; level = −1 flags the degenerate all-saturated case.
    Q("q_text_mix_waterfill", (s, d) =>
      waterfill(
        docs(s, d).groupBy(col("source"))
          .agg(sum(tokenCount(col("text")).cast("long")).as("cap"))),
      // ascending-caps prefix saturation + floor level, mirrored verbatim;
      // the all-saturated −1 branch is unreachable at bNum/bDen = 9/10
      // (sat_m would need B ≥ Σcap) but mirrored for formula parity
      s"""WITH t AS (
           SELECT source,
                  ${sqlTokenCount("text")} AS nt
           FROM documents),
         caps AS (SELECT source, CAST(sum(CAST(nt AS BIGINT)) AS BIGINT) AS cap
                  FROM t GROUP BY 1),
         tot AS (SELECT CAST(sum(cap) AS BIGINT) AS captot,
                        CAST(count(*) AS BIGINT) AS m
                 FROM caps),
         rk AS (SELECT source, cap, captot * 9 // 10 AS b, m,
                       CAST(row_number() OVER (ORDER BY cap, source)
                         AS BIGINT) AS k,
                       CAST(sum(cap) OVER (ORDER BY cap, source
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS sk
                FROM caps, tot),
         fl AS (SELECT *, CASE WHEN cap * (m - k) <= b - sk
                               THEN 1 ELSE 0 END AS sat
                FROM rk),
         tt AS (SELECT CAST(sum(sat) AS BIGINT) AS t,
                       CAST(coalesce(max(CASE WHEN sat = 1 THEN sk END), 0)
                         AS BIGINT) AS st0
                FROM fl)
         SELECT source, cap AS cap_tokens,
                CAST(CASE WHEN sat = 1 THEN cap
                          ELSE least(cap, (b - st0) // (m - t))
                     END AS BIGINT) AS alloc_tokens,
                CAST(sat AS BIGINT) AS saturated,
                CAST(CASE WHEN t = m THEN -1
                          ELSE (b - st0) // (m - t) END AS BIGINT) AS level
         FROM fl, tt ORDER BY source"""),

    Q("q_text_mix_temperature", (s, d) => {
      val cnt = docs(s, d).groupBy(col("source"))
        .agg(sum(tokenCount(col("text")).cast("long")).as("n_tokens"))
      val scaled = cnt.withColumn("s_micro",
        floor(sqrt(col("n_tokens").cast("double")) * 1000000.0 + 0.5)
          .cast("long"))
      val tot = scaled.agg(sum(col("s_micro")).as("ts"),
        count(lit(1)).as("nsrc"))
      scaled.crossJoin(broadcast(tot))
        // s_micro is a √tokens micro-sum — wide path at the token scale;
        // the epoch factor divides two ≤1e9 quantities, so IT stays int64
        .withColumn("weight_ppm", ppmWide(col("s_micro"), col("ts")))
        // repetition factor vs a uniform target share, in milli-epochs;
        // greatest(1, …) guards a source whose share rounds below 1 ppm
        // (Spark DIV yields NULL on /0, DuckDB // raises — the guard
        // keeps the two engines identical on degenerate skew)
        .select(col("source"), col("n_tokens"), col("weight_ppm"),
          expr("(1000000 DIV nsrc) * 1000 DIV greatest(1L, weight_ppm)")
            .as("epoch_milli"))
        .orderBy("source")
    },
      s"""WITH t AS (
           SELECT source,
                  ${sqlTokenCount("text")} AS nt
           FROM documents),
         c AS (SELECT source, CAST(sum(CAST(nt AS BIGINT)) AS BIGINT) AS n_tokens
               FROM t GROUP BY 1),
         sc AS (SELECT source, n_tokens,
                       CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5)
                         AS BIGINT) AS s_micro
                FROM c),
         tt AS (SELECT CAST(sum(s_micro) AS BIGINT) AS ts,
                       CAST(count(*) AS BIGINT) AS nsrc
                FROM sc)
         SELECT source, n_tokens,
                CAST(CAST(s_micro AS HUGEINT) * 1000000 // CAST(ts AS HUGEINT)
                  AS BIGINT) AS weight_ppm,
                CAST((1000000 // nsrc) * 1000
                     // greatest(1, CAST(s_micro AS HUGEINT) * 1000000
                                    // CAST(ts AS HUGEINT))
                  AS BIGINT) AS epoch_milli
         FROM sc, tt ORDER BY source"""),

    // pairwise source drift: total-variation distance between per-source
    // unigram distributions in exact integer ppm — the mix-monitoring
    // metric a corpus pipeline tracks across ingestion sources. One
    // shuffle over the token instances; the dense (source × vocab) grid
    // and the pair join run on tiny aggregate tables. Integer ppm
    // per-token probabilities keep the whole metric float-free
    Q("q_text_source_divergence", (s, d) => {
      val toks = docs(s, d).select(col("source"),
        explode(tokens(lower(col("text")))).as("tok"))
      val cnt = toks.groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val tot = toks.groupBy(col("source")).agg(count(lit(1)).as("t"))
      val grid = tot.select(col("source"), col("t"))
        .crossJoin(toks.select(col("tok")).distinct())
        .join(cnt, Seq("source", "tok"), "left")
        .na.fill(0L, Seq("c"))
        .select(col("source"), col("tok"),
          // c is a token count (sum over rows) — wide path
          ppmWide(col("c"), col("t")).as("ppm"))
      grid.as("a").join(grid.as("b"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(sum(abs(col("a.ppm") - col("b.ppm"))).as("l1"))
        .select(col("src_a"), col("src_b"), expr("l1 DIV 2").as("tv_ppm"))
        .orderBy("src_a", "src_b")
    },
      s"""WITH t AS (
           SELECT source,
                  ${sqlTokens("lower(text)")} AS toks
           FROM documents),
         x AS (SELECT source, unnest(toks) AS tok FROM t),
         cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
                 FROM x GROUP BY 1, 2),
         tot AS (SELECT source, CAST(count(*) AS BIGINT) AS tt
                 FROM x GROUP BY 1),
         v AS (SELECT DISTINCT tok FROM x),
         grid AS (
           SELECT tot.source, v.tok,
                  CAST(CAST(coalesce(cnt.c, 0) AS HUGEINT) * 1000000
                       // CAST(tot.tt AS HUGEINT) AS BIGINT) AS ppm
           FROM tot CROSS JOIN v
           LEFT JOIN cnt ON cnt.source = tot.source AND cnt.tok = v.tok)
         SELECT a.source AS src_a, b.source AS src_b,
                CAST(sum(abs(a.ppm - b.ppm)) // 2 AS BIGINT) AS tv_ppm
         FROM grid a JOIN grid b
           ON a.tok = b.tok AND a.source < b.source
         GROUP BY 1, 2 ORDER BY src_a, src_b"""),

    // Simpson diversity index per source: D = Σ nᵢ(nᵢ−1) / (N(N−1)) over
    // the unigram distribution — the probability two random tokens
    // coincide (the concentration dual of entropy; low D = diverse
    // vocabulary). Exact integer ppb through the wide path — nᵢ² sums are
    // unbounded. One token shuffle; per-source rollup is vocabulary-sized
    Q("q_text_simpson", (s, d) => {
      val toks = docs(s, d).select(col("source"),
        explode(tokens(lower(col("text")))).as("tok"))
      toks.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab"),
          sum(wide(col("c")) * wide(col("c") - 1L)).as("num"))
        .select(col("source"), col("n_tokens"), col("vocab"),
          mulDivWide(col("num"), lit(1000000000L),
            wide(col("n_tokens")) * wide(col("n_tokens") - 1L))
            .as("simpson_ppb"))
        .orderBy("source")
    },
      s"""WITH t AS (
           SELECT source,
                  ${sqlTokens("lower(text)")}
                    AS toks
           FROM documents),
         x AS (SELECT source, unnest(toks) AS tok FROM t),
         cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
                 FROM x GROUP BY 1, 2),
         agg AS (
           SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                  CAST(count(*) AS BIGINT) AS vocab,
                  sum(CAST(c AS HUGEINT) * CAST(c - 1 AS HUGEINT)) AS num
           FROM cnt GROUP BY 1)
         SELECT source, n_tokens, vocab,
                CAST(num * 1000000000 //
                     (CAST(n_tokens AS HUGEINT) *
                      CAST(n_tokens - 1 AS HUGEINT)) AS BIGINT)
                  AS simpson_ppb
         FROM agg ORDER BY source"""),

    // winnowing fingerprints (Schleimer et al., SIGMOD'03): hash every
    // token 3-gram, keep the MIN hash of each 4-window of consecutive
    // gram positions — guarantees any shared run of ≥ 6 tokens yields a
    // shared fingerprint, at ~1/4 the fingerprint density of full
    // shingling. Pairs sharing ≥ 5 selected fingerprints are the
    // plagiarism/near-copy candidates. Per-doc windows (two window
    // passes on one doc_id shuffle), then the df-capped pair join
    // discipline of the dedup family
    Q("q_text_winnow_pairs", (s, d) => {
      // fingerprints are consumed three times (df table + both self-join
      // sides): materialize the two-window-pass derivation once; the hot
      // set is tiny and broadcasts so the anti-join never shuffles the
      // fingerprint table (opt r13, guide §2.4/§3.1)
      val fps = graft.text.Winnowing.fingerprints(postings(s, d),
        col("doc_id"), col("pos"), col("tok"), k = 3, w = 4)
        .localCheckpoint(false)
      // corpus-relative hot-fingerprint cap (0.2% of docs, floored at 8):
      // the absolute df > 8 cut went vacuous at sf1 — every fingerprint's
      // df ≥ 10 under the verbatim 10× fixture, so all were excluded
      // (same class as the dedup MaxDf scale bug, same fix)
      val n = docs(s, d).agg(count(lit(1)).as("n"))
      // hot is a data-scaled aggregate (top ~0.2% of the fingerprint
      // vocabulary): gate the anti-join's broadcast on its measured row
      // count — shuffle_hash past the ceiling instead of riding a bare
      // hint into the broadcast hard limit (opt r14, VERDICT r13 #2);
      // the gate's count materializes the checkpoint
      val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .where(col("df") > greatest(lit(8L), expr("n DIV 500"))).select("fp")
        .localCheckpoint(false)
      val kept = fps.join(graft.util.BroadcastGate.counted(hot),
        Seq("fp"), "left_anti")
      kept.as("a").join(kept.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
        .agg(count(lit(1)).as("shared_fps"))
        .where(col("shared_fps") >= 5)
        .orderBy("ida", "idb")
    },
      s"""WITH ${postingsCtes()},
         g AS (
           SELECT doc_id, pos, tok,
                  lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
                  lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
           FROM x),
         h AS (
           SELECT doc_id, pos,
                  CAST('0x' || substr(md5(tok || ' ' || t1 || ' ' || t2), 1, 15)
                    AS BIGINT) AS h
           FROM g WHERE t2 IS NOT NULL),
         wmin AS (
           SELECT doc_id,
                  count(*) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS nw,
                  min(h) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
           FROM h),
         fps AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE nw = 4),
         keep AS (SELECT fp FROM fps GROUP BY fp
                  HAVING count(*) <= greatest(8,
                    (SELECT count(*) FROM documents) // 500)),
         kf AS (SELECT fps.doc_id, fps.fp FROM fps JOIN keep USING (fp))
         SELECT a.doc_id AS ida, b.doc_id AS idb,
                CAST(count(*) AS BIGINT) AS shared_fps
         FROM kf a JOIN kf b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 5
         ORDER BY ida, idb"""),

    // content-defined chunking: a token ends a chunk when its md5-derived
    // hash ≡ 0 (mod 16) — boundaries depend only on content, so an
    // insertion resynchronizes within one expected chunk (the property
    // fixed-size chunking lacks, and why CDC is the dedup granularity for
    // drifting corpora). Expected chunk length = 16 tokens. Chunk ids are
    // an exclusive running boundary count per doc (window over the
    // doc_id shuffle — parallel across docs); chunks emit count + md5 so
    // the oracle verifies exact assembled content
    Q("q_text_cdc_chunks", (s, d) => {
      val w = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
      postings(s, d)
        .withColumn("b",
          (pmod(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"),
            lit(16L)) === 0).cast("long"))
        .withColumn("chunk_id", coalesce(sum(col("b")).over(w), lit(0L)))
        .groupBy(col("doc_id"), col("chunk_id"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            e => e.getField("tok")), " ")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },
      s"""WITH ${postingsCtes()},
         f AS (SELECT doc_id, pos, tok,
                      CASE WHEN CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 16 = 0
                           THEN 1 ELSE 0 END AS b
               FROM x),
         c AS (SELECT doc_id, pos, tok,
                      CAST(coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS chunk_id
               FROM f)
         SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
                md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
         FROM c GROUP BY 1, 2 ORDER BY doc_id, chunk_id"""),

    // chunk-level dedup: fingerprint every training chunk and keep the
    // lowest (doc, idx) occurrence per duplicate group — the dedup
    // granularity that actually matters for an LLM mix (boilerplate
    // paragraphs recur across otherwise-distinct documents). Composite
    // numeric keep_key = doc_id*1e6 + chunk_idx is the deterministic
    // cross-engine "first wins" tiebreak.
    Q("q_text_chunk_dedup", (s, d) =>
      docChunks(s, d)
        .groupBy(md5(col("chunk")).as("chunk_md5"))
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id") * 1000000 + col("chunk_idx")).as("keep_key"))
        .where(col("n_copies") > 1)
        .orderBy("chunk_md5"),
      s"""WITH $docChunksCte
         SELECT md5(chunk) AS chunk_md5,
                CAST(count(*) AS BIGINT) AS n_copies,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                min(doc_id * 1000000 + chunk_idx) AS keep_key
         FROM ch GROUP BY 1
         HAVING count(*) > 1
         ORDER BY chunk_md5"""),

    // benchmark decontamination: corpus docs sharing any token 3-gram with
    // the eval slice (doc_id % 41 = 0). Eval n-grams broadcast; the corpus
    // side never shuffles before the per-doc aggregation. Both slices come
    // from ONE table, so the n-gram projection is built once and cached
    // (QueryCaches) instead of tokenizing the documents per side
    Q("q_text_decontaminate", (s, d) => {
      val ng = decontamNgrams(s, d)
      graft.text.Decontaminate.contaminationOnNgrams(
          ng.where(col("doc_id") % 41 =!= 0),
          ng.where(col("doc_id") % 41 === 0)
            .withColumnRenamed("doc_id", "__eval_id"))
        .orderBy("doc_id")
    },
      s"""WITH $decontamNgramsCte,
         ev AS (SELECT doc_id AS eval_id, ng FROM gd WHERE doc_id % 41 = 0),
         tr AS (SELECT doc_id, ng FROM gd WHERE doc_id % 41 != 0)
         SELECT tr.doc_id,
                CAST(count(DISTINCT tr.ng) AS BIGINT) AS n_hits,
                CAST(count(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
         FROM tr JOIN ev USING (ng)
         GROUP BY 1 ORDER BY doc_id"""),

    // do the cheap heuristic and the LM signal agree? Pearson correlation
    // between the quality score and per-token surprisal across the
    // corpus — the meta-evaluation that decides whether a fast filter
    // can stand in for an expensive one. Both signals quantize to
    // integers (identical expression trees → identical doubles → safe
    // floors), the moments accumulate exactly, and the correlation is
    // one fixed-shape IEEE expression over those sums
    Q("q_text_signal_corr", (s, d) => {
      val q = docs(s, d).select(col("doc_id"),
        floor(qualityScore(col("text")) * 1000000.0 + 0.5).cast("long")
          .as("x"))
      val sur = graft.text.UnigramLm.surprisal(docs(s, d), col("doc_id"),
        col("text"))
        .select(col("doc_id"),
          expr("surprisal_micro DIV greatest(1L, n_tokens)").as("y"))
      q.join(sur, "doc_id")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).cast("double").as("sx"),
          sum(col("y").cast("decimal(38,0)")).cast("double").as("sy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).cast("double").as("sxx"),
          sum((col("y") * col("y")).cast("decimal(38,0)")).cast("double").as("syy"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).cast("double").as("sxy"))
        .select(col("n"),
          ((col("n").cast("double") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n").cast("double") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n").cast("double") * col("syy") - col("sy") * col("sy"))))
            .as("pearson_r"))
    },
      s"""WITH $qualityInputsCte,
         qx AS (
           SELECT doc_id,
                  CAST(floor((0.4 * least(1.0, chars / 500.0)
                    + 0.3 * least(1.0, 4.0 * (CAST(n_stop AS DOUBLE) / greatest(toks, 1.0)))
                    + 0.3 * (1.0 - least(1.0, 10.0 * (CAST(n_punct AS DOUBLE) / greatest(chars, 1.0)))))
                    * 1000000.0 + 0.5) AS BIGINT) AS x
           FROM t),
         tk AS (
           SELECT doc_id,
                  ${sqlTokens("lower(text)")} AS toks
           FROM documents),
         xx AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
         f AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM xx GROUP BY 1),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS total FROM xx),
         ds AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                  CAST(sum(CAST(floor(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                         * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sm
           FROM xx JOIN f USING (tok), tt
           GROUP BY 1),
         sy AS (SELECT doc_id, sm // greatest(1, n_tokens) AS y FROM ds),
         j AS (SELECT x, y FROM qx JOIN sy USING (doc_id)),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
                      CAST(sum(x * x) AS DOUBLE) AS sxx,
                      CAST(sum(y * y) AS DOUBLE) AS syy,
                      CAST(sum(x * y) AS DOUBLE) AS sxy
               FROM j)
         SELECT n,
                (CAST(n AS DOUBLE) * sxy - sx * sy)
                  / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                     * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS pearson_r
         FROM m"""),

    // contamination incidence by source — the rollup that tells you
    // WHICH ingestion feed is leaking eval data (per-doc verdicts exist
    // in q_text_decontaminate; operations needs the source-level rate).
    // Reuses the memoized n-gram projection; docs with zero hits count
    // through the left join
    Q("q_text_contamination_by_source", (s, d) => {
      val ng = decontamNgrams(s, d)
      val hits = graft.text.Decontaminate.contaminationOnNgrams(
        ng.where(col("doc_id") % 41 =!= 0),
        ng.where(col("doc_id") % 41 === 0)
          .withColumnRenamed("doc_id", "__eval_id"))
        .select(col("doc_id"), lit(1L).as("hit"))
      docs(s, d).where(col("doc_id") % 41 =!= 0)
        .select(col("doc_id"), col("source"))
        .join(hits, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(col("hit")).as("n_contaminated"))
        .withColumn("rate_ppm",
          expr("n_contaminated * 1000000 DIV n_docs"))
        .orderBy("source")
    },
      s"""WITH $decontamNgramsCte,
         ev AS (SELECT ng FROM gd WHERE doc_id % 41 = 0),
         tr AS (SELECT doc_id, ng FROM gd WHERE doc_id % 41 != 0),
         hits AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (ng)),
         r AS (
           SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(count(hits.doc_id) AS BIGINT) AS n_contaminated
           FROM documents d
           LEFT JOIN hits ON hits.doc_id = d.doc_id
           WHERE d.doc_id % 41 != 0
           GROUP BY 1)
         SELECT source, n_docs, n_contaminated,
                CAST(n_contaminated * 1000000 // n_docs AS BIGINT) AS rate_ppm
         FROM r ORDER BY source"""),

    // chunk-level novelty vs an already-ingested reference corpus
    // (src0/src1): anti-join on chunk fingerprint — per source, how many
    // training chunks are genuinely new
    Q("q_dedup_novelty", (s, d) => {
      val chunks = docs(s, d)
        .select(col("doc_id"), col("source"),
          explode(chunkTokens(col("text"), 32, 24)).as("chunk"))
        .select(col("doc_id"), col("source"), md5(col("chunk")).as("cmd5"))
      val refSrc = Seq("src0", "src1")
      val ref = chunks.where(col("source").isin(refSrc: _*))
      val rest = chunks.where(!col("source").isin(refSrc: _*))
      val novel = graft.dedup.Dedup.novelAgainst(rest, ref, "cmd5")
      rest.groupBy("source").agg(count(lit(1)).as("n_chunks"))
        .join(novel.groupBy("source").agg(count(lit(1)).as("n_novel")),
          Seq("source"), "left")
        .na.fill(0L, Seq("n_novel"))
        .orderBy("source")
    },
      s"""WITH t AS (
           SELECT doc_id, source,
                  ${sqlTokens("text")} AS toks
           FROM documents),
         c AS (
           SELECT doc_id, source, toks,
                  greatest(CAST(ceil(CAST(len(toks) - 8 AS DOUBLE) / 24) AS INT), 1)
                    AS n_chunks
           FROM t WHERE len(toks) > 0),
         e AS (
           SELECT doc_id, source,
                  md5(array_to_string(toks[i*24 + 1 : i*24 + 32], ' ')) AS cmd5
           FROM c, lateral unnest(range(0, n_chunks)) u(i)),
         ref AS (SELECT DISTINCT cmd5 FROM e WHERE source IN ('src0', 'src1')),
         rest AS (SELECT source, cmd5 FROM e WHERE source NOT IN ('src0', 'src1'))
         SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
                CAST(count(*) FILTER (cmd5 NOT IN (SELECT cmd5 FROM ref)) AS BIGINT)
                  AS n_novel
         FROM rest GROUP BY 1 ORDER BY source"""),

    // Gopher-style repetition signals: duplicate-token fraction, most
    // frequent bigram and its share, mean token length — the repetition
    // filters a pretraining pipeline runs per document
    Q("q_text_gopher", (s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        tokens(lower(col("text"))).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
          aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).as("char_sum"),
          col("toks"))
      val bg = base.select(col("doc_id"), col("n_tokens"),
          explode(when(size(col("toks")) < 2, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(0), size(col("toks")) - 2),
              i => concat_ws(" ", element_at(col("toks"), i + 1),
                element_at(col("toks"), i + 2))))).as("bg"))
        .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("cnt").desc, col("bg"))
      val top = bg.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("doc_id"), col("bg").as("top_bigram"), col("cnt").as("top_cnt"))
      base.join(top, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          ((col("n_tokens") - col("n_distinct")).cast("double") /
            greatest(col("n_tokens"), lit(1L)).cast("double")).as("dup_token_frac"),
          col("char_sum").cast("double")
            ./(greatest(col("n_tokens"), lit(1L)).cast("double")).as("mean_tok_len"),
          col("top_bigram"),
          (col("top_cnt").cast("double") /
            greatest(col("n_tokens") - 1, lit(1L)).cast("double")).as("top_bigram_frac"))
        .orderBy("doc_id")
    },
      s"""WITH $docToksCte,
         b AS (
           SELECT doc_id,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
                  list_reduce(list_prepend(0::BIGINT,
                    list_transform(toks, x -> CAST(length(x) AS BIGINT))),
                    (a, b) -> a + b) AS char_sum
           FROM t),
         bg AS (
           SELECT doc_id, toks[i+1] || ' ' || toks[i+2] AS bg
           FROM t, lateral unnest(range(0, greatest(len(toks) - 1, 0))) u(i)),
         bc AS (SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
         top AS (
           SELECT doc_id, bg AS top_bigram, cnt AS top_cnt FROM (
             SELECT *, row_number() OVER (PARTITION BY doc_id
                                          ORDER BY cnt DESC, bg) AS rn
             FROM bc) WHERE rn = 1)
         SELECT b.doc_id, n_tokens,
                CAST(n_tokens - n_distinct AS DOUBLE)
                  / CAST(greatest(n_tokens, 1) AS DOUBLE) AS dup_token_frac,
                CAST(char_sum AS DOUBLE)
                  / CAST(greatest(n_tokens, 1) AS DOUBLE) AS mean_tok_len,
                top_bigram,
                CAST(top_cnt AS DOUBLE)
                  / CAST(greatest(n_tokens - 1, 1) AS DOUBLE) AS top_bigram_frac
         FROM b LEFT JOIN top USING (doc_id) ORDER BY b.doc_id"""),

    // BM25 sparse retrieval: first 10 docs as query bags, top-5 corpus
    // matches each, stop-terms cut at df > 30% of the corpus. The idf is
    // the only float (one audited ln per distinct df, quantized to integer
    // micro-units); every other score factor is an exact integer rational,
    // so no engine-version float drift can flip a score
    Q("q_text_bm25", (s, d) =>
      bm25Informative(s, d, k = 5)
        .orderBy("qid", "rank"),
      s"""WITH ${bm25RankCte(qBag = informativeBag)}
         SELECT qid, nid, rank, score_micro FROM lexr WHERE rank <= 5
         ORDER BY qid, rank"""),

    // retrieval-quality eval: graded nDCG@10 + MRR over the BM25 ranking
    // (the metric pair every retrieval stack reports). Ground truth is
    // deterministic metadata relevance — same source+lang = 3, same
    // source = 2, same lang = 1 — and IDCG is the LOCAL ideal (the
    // retrieved list reordered by grade), the standard library behavior
    // when corpus-wide truth is unknown. The 10 discount values
    // 1/log2(rank+1) quantize to micro at the leaf (rank ≤ 10 — a
    // 10-value domain), so DCG/IDCG are exact integer sums and nDCG is
    // one ppm integer division. MRR counts source-grade hits (grade ≥ 2)
    Q("q_text_retrieval_eval", (s, d) => {
      val ranked = bm25Informative(s, d, k = 10)
      val meta = docs(s, d).select(col("doc_id"), col("source"), col("lang"))
      def disc(r: org.apache.spark.sql.Column) =
        floor(log(lit(2.0)) / log((r + lit(1L)).cast("double"))
          * lit(1000000.0) + lit(0.5)).cast("long")
      val iw = Window.partitionBy(col("qid"))
        .orderBy(col("gain").desc, col("nid"))
      ranked
        .join(meta.select(col("doc_id").as("qid"), col("source").as("qsrc"),
          col("lang").as("qlang")), "qid")
        .join(meta.select(col("doc_id").as("nid"), col("source").as("nsrc"),
          col("lang").as("nlang")), "nid")
        .withColumn("grade",
          when(col("qsrc") === col("nsrc") && col("qlang") === col("nlang"),
            3L).when(col("qsrc") === col("nsrc"), 2L)
            .when(col("qlang") === col("nlang"), 1L).otherwise(0L))
        .withColumn("gain",
          when(col("grade") === 3L, 7L).when(col("grade") === 2L, 3L)
            .when(col("grade") === 1L, 1L).otherwise(0L))
        .withColumn("irank", row_number().over(iw).cast("long"))
        .withColumn("dcg_term", col("gain") * disc(col("rank")))
        .withColumn("idcg_term", col("gain") * disc(col("irank")))
        .groupBy("qid")
        .agg(count(lit(1)).as("n_ranked"),
          sum("dcg_term").as("dcg_micro"),
          sum("idcg_term").as("idcg_micro"),
          coalesce(min(when(col("grade") >= 2L, col("rank"))), lit(0L))
            .as("first_rel_rank"))
        .withColumn("ndcg_ppm",
          when(col("idcg_micro") > 0L,
            expr("dcg_micro * 1000000 DIV idcg_micro")).otherwise(0L))
        .withColumn("rr_ppm",
          when(col("first_rel_rank") > 0L,
            expr("1000000 DIV first_rel_rank")).otherwise(0L))
        .orderBy("qid")
    },
      s"""WITH ${bm25RankCte(qBag = informativeBag)},
         topk AS (SELECT qid, nid, rank FROM lexr WHERE rank <= 10),
         g AS (
           SELECT t.qid, t.nid, t.rank,
                  CASE WHEN dq.source = dn.source AND dq.lang = dn.lang
                         THEN 3
                       WHEN dq.source = dn.source THEN 2
                       WHEN dq.lang = dn.lang THEN 1 ELSE 0 END AS grade
           FROM topk t
           JOIN documents dq ON dq.doc_id = t.qid
           JOIN documents dn ON dn.doc_id = t.nid),
         g2 AS (
           SELECT qid, nid, rank, grade,
                  CASE grade WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1
                    ELSE 0 END AS gain,
                  CAST(row_number() OVER (PARTITION BY qid
                    ORDER BY (CASE grade WHEN 3 THEN 7 WHEN 2 THEN 3
                                WHEN 1 THEN 1 ELSE 0 END) DESC, nid)
                    AS BIGINT) AS irank
           FROM g),
         a AS (
           SELECT qid, CAST(count(*) AS BIGINT) AS n_ranked,
                  CAST(sum(gain * CAST(floor(ln(2.0)
                      / ln(CAST(rank + 1 AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS dcg_micro,
                  CAST(sum(gain * CAST(floor(ln(2.0)
                      / ln(CAST(irank + 1 AS DOUBLE))
                      * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                    AS idcg_micro,
                  CAST(coalesce(min(CASE WHEN grade >= 2 THEN rank END), 0)
                    AS BIGINT) AS first_rel_rank
           FROM g2 GROUP BY 1)
         SELECT qid, n_ranked, dcg_micro, idcg_micro, first_rel_rank,
                CAST(CASE WHEN idcg_micro > 0
                       THEN dcg_micro * 1000000 // idcg_micro
                       ELSE 0 END AS BIGINT) AS ndcg_ppm,
                CAST(CASE WHEN first_rel_rank > 0
                       THEN 1000000 // first_rel_rank
                       ELSE 0 END AS BIGINT) AS rr_ppm
         FROM a ORDER BY qid"""),

    // bigram next-token statistics: top-3 continuations per context token
    // — the corpus-level conditional distribution a tokenizer/LM data
    // audit inspects (and the n-gram LM building block)
    Q("q_text_ngram_lm", (s, d) => {
      val pairs = bigramPairs(s, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("ctx")).orderBy(col("cnt").desc, col("nxt"))
      pairs.groupBy("ctx", "nxt").agg(count(lit(1)).as("cnt"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .orderBy("ctx", "rank")
    },
      s"""WITH t AS (
           SELECT ${sqlTokens("lower(text)")} AS toks
           FROM documents),
         bg AS (
           SELECT toks[i+1] AS ctx, toks[i+2] AS nxt
           FROM t, lateral unnest(range(0, greatest(len(toks) - 1, 0))) u(i)),
         c AS (SELECT ctx, nxt, CAST(count(*) AS BIGINT) AS cnt
               FROM bg GROUP BY 1, 2),
         r AS (SELECT ctx, nxt, cnt,
                      CAST(row_number() OVER (PARTITION BY ctx
                        ORDER BY cnt DESC, nxt) AS BIGINT) AS rank
               FROM c)
         SELECT ctx, nxt, cnt, rank FROM r WHERE rank <= 3
         ORDER BY ctx, rank"""),

    // unigram-LM surprisal (perplexity-proxy quality filter): per-token
    // −ln p(t) in integer micro-nats summed per doc — order-independent
    Q("q_text_surprisal", (s, d) =>
      graft.text.UnigramLm.surprisal(docs(s, d), col("doc_id"), col("text"))
        .orderBy("doc_id"),
      s"""WITH $docToksCte,
         x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         f AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY 1),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS total FROM x)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(CAST(floor(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                       * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS surprisal_micro
         FROM x JOIN f USING (tok), tt
         GROUP BY 1 ORDER BY doc_id"""),

    // word2vec-style negative-sampling table: weights ∝ count^0.75 (the
    // unigram smoothing that keeps frequent words from dominating the
    // contrastive draw). pow quantizes at the leaf per distinct count (a
    // vocabulary-sized input set — same audit argument as the √ mix
    // weights) and shares normalize by exact integer division
    Q("q_text_neg_sampling", (s, d) => {
      val cnt = postings(s, d).groupBy("tok").agg(count(lit(1)).as("c"))
      val w = cnt.withColumn("w_micro",
        floor(pow(col("c").cast("double"), 0.75) * 1000000.0 + 0.5)
          .cast("long"))
      w.crossJoin(broadcast(w.agg(sum("w_micro").as("tw"))))
        .select(col("tok"), col("c"), col("w_micro"),
          // w_micro ~ 1e6·c^0.75 — a count-derived micro sum; wide path
          ppmWide(col("w_micro"), col("tw")).as("draw_ppm"))
        .orderBy(col("draw_ppm").desc, col("tok"))
        .limit(20)
    },
      s"""WITH $docToksCte,
         x AS (SELECT unnest(toks) AS tok FROM t),
         c AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY 1),
         w AS (SELECT tok, c,
                      CAST(floor(pow(CAST(c AS DOUBLE), 0.75) * 1000000.0
                        + 0.5) AS BIGINT) AS w_micro
               FROM c),
         tw AS (SELECT CAST(sum(w_micro) AS BIGINT) AS tw FROM w)
         SELECT tok, c, w_micro,
                CAST(CAST(w_micro AS HUGEINT) * 1000000 // CAST(tw AS HUGEINT)
                  AS BIGINT) AS draw_ppm
         FROM w, tw ORDER BY draw_ppm DESC, tok LIMIT 20"""),

    // tokenizer fertility: BPE-ish tokens per whitespace word, by
    // language — the compute-cost metric behind tokenizer choice (a
    // language with fertility 2× pays 2× the sequence length for the
    // same text). Exact integer ppm over the summed counts
    Q("q_text_fertility", (s, d) =>
      docs(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text")).cast("long")).as("ws_tokens"),
          sum(bpeTokenCount(col("text")).cast("long")).as("bpe_tokens"))
        .withColumn("fertility_ppm",
          expr("bpe_tokens * 1000000 DIV ws_tokens"))
        .orderBy("lang"),
      s"""WITH f AS (
           SELECT lang,
                  CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(${sqlTokenCount("text")})
                    AS BIGINT) AS ws_tokens,
                  CAST(sum(${sqlBpeTokenCount("text")})
                    AS BIGINT) AS bpe_tokens
           FROM documents GROUP BY 1)
         SELECT lang, n_docs, ws_tokens, bpe_tokens,
                CAST(bpe_tokens * 1000000 // ws_tokens AS BIGINT)
                  AS fertility_ppm
         FROM f ORDER BY lang"""),

    // source vocabulary-overlap matrix: pairwise Jaccard of the sources'
    // vocabularies — the corpus-relatedness map (which sources are
    // near-copies, which bring genuinely new words). One inverted join
    // on the term (the same candidate shape as the dedup family), pair
    // counts + degrees, exact ppm
    Q("q_text_vocab_overlap", (s, d) => {
      val sv = postings(s, d)
        .join(docs(s, d).select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("tok")).distinct()
      val deg = sv.groupBy("source").agg(count(lit(1)).as("v"))
      val pairs = sv.as("a").join(sv.as("b"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
        .agg(count(lit(1)).as("common"))
      pairs
        .join(deg.select(col("source").as("sa"), col("v").as("va")), "sa")
        .join(deg.select(col("source").as("sb"), col("v").as("vb")), "sb")
        .select(col("sa"), col("sb"), col("common"),
          expr("common * 1000000 DIV (va + vb - common)").as("jaccard_ppm"))
        .orderBy(col("jaccard_ppm").desc, col("sa"), col("sb"))
        .limit(20)
    },
      s"""WITH $docToksCte,
         sv AS (SELECT DISTINCT d.source, x.tok
                FROM (SELECT doc_id, unnest(toks) AS tok FROM t) x
                JOIN documents d USING (doc_id)),
         deg AS (SELECT source, CAST(count(*) AS BIGINT) AS v
                 FROM sv GROUP BY 1),
         pairs AS (
           SELECT a.source AS sa, b.source AS sb,
                  CAST(count(*) AS BIGINT) AS common
           FROM sv a JOIN sv b ON a.tok = b.tok AND a.source < b.source
           GROUP BY 1, 2)
         SELECT sa, sb, common,
                CAST(common * 1000000 // (da.v + db.v - common) AS BIGINT)
                  AS jaccard_ppm
         FROM pairs
         JOIN deg da ON da.source = sa
         JOIN deg db ON db.source = sb
         ORDER BY jaccard_ppm DESC, sa, sb LIMIT 20"""),

    // corpus-level LM quality: mean per-token surprisal by source (the
    // perplexity proxy rolled up to the mixture-weighting granularity) —
    // integer micro-nats per token via one exact division over the
    // summed doc surprisals
    Q("q_text_ppl_by_source", (s, d) =>
      graft.text.UnigramLm.surprisal(docs(s, d), col("doc_id"), col("text"))
        .join(docs(s, d).select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
          expr("sum(surprisal_micro) DIV sum(n_tokens)")
            .as("avg_surprisal_micro"))
        .orderBy("source"),
      s"""WITH $docToksCte,
         x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         f AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY 1),
         tt AS (SELECT CAST(count(*) AS BIGINT) AS total FROM x),
         ds AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                  CAST(sum(CAST(floor(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                         * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS sm
           FROM x JOIN f USING (tok), tt
           GROUP BY 1)
         SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                CAST(CAST(sum(sm) AS BIGINT) // CAST(sum(n_tokens) AS BIGINT)
                  AS BIGINT) AS avg_surprisal_micro
         FROM ds JOIN documents d USING (doc_id)
         GROUP BY 1 ORDER BY source"""),

    // DSIR data selection (Xie et al. 2023): importance-resample the raw
    // corpus toward a target distribution (here the `en` stratum stands
    // in for the trusted corpus) via hashed-ngram log-likelihood-ratio
    // weights — top-k selection with deterministic (weight, doc_id)
    // tiebreaks. The lr table is 4096 broadcast rows at ANY corpus size;
    // scoring is one map-side join + per-doc integer sum (graft.text.Dsir)
    Q("q_text_dsir_select", (s, d) =>
      dsirSelect(s, d, dsirWeights(s, d)),
      sqlDsirSelect),

    // The documented web-scale DSIR degradation, ON the gate: the same
    // selection computed through Dsir.weights' SHUFFLE branch
    // (broadcastCeiling below B forces the hinted shuffle-hash scoring
    // join — the plan a B = 2^28+ web-scale run uses when the lr table
    // outgrows a broadcast). Values are branch-invariant by
    // construction (DsirSpec pins bit-equality and the plan
    // difference); hash-equality with the SAME oracle as
    // q_text_dsir_select makes the degradation path continuously
    // oracle-gated, not just spec'd. Not memoized with the broadcast
    // row on purpose — sharing the memo would gate one branch twice; the
    // shuffle branch hash-partitions lr on bucket, so the cache (whose
    // lookup ignores hints) cannot serve this memo from dsir_weights.
    Q("q_text_dsir_select_shuffle", (s, d) => {
      val w = QueryCaches.memo(s, d, "dsir_weights_shuffle") {
        graft.text.Dsir.weights(docs(s, d), col("doc_id"), col("text"),
          col("lang") === "en", buckets = 4096, broadcastCeiling = 1024)
      }
      dsirSelect(s, d, w)
    },
      // identical oracle text as q_text_dsir_select: the engine's two
      // scoring-join branches are value-equal by construction, so ONE
      // DuckDB replay gates both — each engine row hashed independently
      sqlDsirSelect),

    // DSIR distribution shift: what the selector thinks of each source —
    // per-source feature mass and summed importance weight (negative =
    // the source reads unlike the target). Sum + count, no division, so
    // the row is exact-integer; zero-token docs join as 0-weight
    Q("q_text_dsir_shift", (s, d) =>
      docs(s, d).select("doc_id", "source")
        .join(dsirWeights(s, d), Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("n_feats"), lit(0L))).as("feat_count"),
          sum(coalesce(col("weight_micro"), lit(0L))).as("weight_sum_micro"))
        .orderBy("source"),
      (dsirCte +
        """
         SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(coalesce(n_feats, 0)) AS BIGINT) AS feat_count,
                CAST(sum(coalesce(weight_micro, 0)) AS BIGINT)
                  AS weight_sum_micro
         FROM documents d LEFT JOIN w USING (doc_id)
         GROUP BY 1 ORDER BY source""")),

    // DSIR resampling step — Gumbel-top-k: sampling k docs WITHOUT
    // replacement with probability ∝ w(x) is exactly "top-k by
    // log w(x) + Gumbel noise" (the Gumbel-max trick the DSIR paper
    // uses), which distributes as one TakeOrdered — no sequential draws,
    // no rejection loop. Noise is md5-derived (u=(h+1)/(2^52+1), key =
    // weight_micro + floor(−ln(−ln u)·1e6 + 0.5)) so the "random" sample
    // is bitwise reproducible cross-engine and across reruns/layouts
    Q("q_text_dsir_gumbel", (s, d) => {
      val h = conv(substring(md5(concat(lit("gumbel:"),
        col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long")
      val u = (h + 1L).cast("double") / lit(4503599627370497.0) // 2^52+1
      dsirWeights(s, d)
        .join(docs(s, d).select("doc_id", "source"), "doc_id")
        .withColumn("gumbel_micro",
          floor(-log(-log(u)) * lit(1000000.0) + lit(0.5)).cast("long"))
        .withColumn("key_micro", col("weight_micro") + col("gumbel_micro"))
        .select("doc_id", "source", "weight_micro", "gumbel_micro",
          "key_micro")
        .orderBy(col("key_micro").desc, col("doc_id"))
        .limit(50)
    },
      (dsirCte +
        """
         SELECT w.doc_id, d.source, weight_micro,
                CAST(floor(-ln(-ln(
                    CAST(CAST('0x' || substr(md5('gumbel:' ||
                           CAST(w.doc_id AS VARCHAR)), 1, 13) AS BIGINT)
                         + 1 AS DOUBLE) / 4503599627370497.0))
                  * 1000000.0 + 0.5) AS BIGINT) AS gumbel_micro,
                weight_micro + CAST(floor(-ln(-ln(
                    CAST(CAST('0x' || substr(md5('gumbel:' ||
                           CAST(w.doc_id AS VARCHAR)), 1, 13) AS BIGINT)
                         + 1 AS DOUBLE) / 4503599627370497.0))
                  * 1000000.0 + 0.5) AS BIGINT) AS key_micro
         FROM w JOIN documents d USING (doc_id)
         ORDER BY key_micro DESC, doc_id LIMIT 50""")),

    // fuzzy vocabulary linking: edit-distance ≤ 2 word pairs via FastSS
    // deletion-neighborhood blocking + exact levenshtein verify. The
    // oracle computes ALL pairs — set equality proves the blocking's
    // full-recall theorem held
    Q("q_text_fuzzy_join", (s, d) => {
      val vocab = docs(s, d)
        .select(explode(tokens(lower(col("text")))).as("w")).distinct()
      graft.text.FuzzyJoin.editDistancePairs2(vocab, col("w"))
        .orderBy("wa", "wb")
    },
      s"""WITH v AS (
           SELECT DISTINCT unnest(
             ${sqlTokens("lower(text)")}) AS w
           FROM documents)
         SELECT a.w AS wa, b.w AS wb,
                CAST(levenshtein(a.w, b.w) AS BIGINT) AS ed
         FROM v a JOIN v b ON a.w < b.w
         WHERE levenshtein(a.w, b.w) <= 2
         ORDER BY wa, wb"""),

    // exact corpus length quantiles WITHOUT a global sort: aggregate to a
    // count-per-value histogram (domain-bounded — distinct token counts,
    // not rows), one running sum over the tiny ordered domain, then pick
    // the smallest value whose cumulative count reaches ceil(q·N)
    // (percentile_disc). The scale pattern for exact order statistics
    // over 100 TB: rows aggregate map-side; only the value domain sorts
    Q("q_text_len_quantiles", (s, d) => {
      val n = docs(s, d).select(tokenCount(col("text")).cast("long").as("v"))
      val hist = n.groupBy("v").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      def pick(q: Double, name: String) =
        min(when(col("cum") >= ceil(col("total") * lit(q)).cast("long"),
          col("v"))).as(name)
      hist.withColumn("cum", sum(col("cnt")).over(w))
        .crossJoin(broadcast(n.agg(count(lit(1)).as("total"))))
        .agg(pick(0.1, "p10"), pick(0.5, "p50"),
          pick(0.9, "p90"), pick(0.99, "p99"))
    },
      s"""WITH n AS (
           SELECT CAST(${sqlTokenCount("text")} AS BIGINT) AS v
           FROM documents),
         h AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM n GROUP BY 1),
         c AS (SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
               FROM h),
         t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM n)
         SELECT min(CASE WHEN cum >= CAST(ceil(total * 0.1) AS BIGINT) THEN v END) AS p10,
                min(CASE WHEN cum >= CAST(ceil(total * 0.5) AS BIGINT) THEN v END) AS p50,
                min(CASE WHEN cum >= CAST(ceil(total * 0.9) AS BIGINT) THEN v END) AS p90,
                min(CASE WHEN cum >= CAST(ceil(total * 0.99) AS BIGINT) THEN v END) AS p99
         FROM c, t"""),

    // count-min sketch: 4×1024 integer-counter sketch of the token
    // stream, point estimates for the 20 most frequent tokens next to
    // their true counts — md5-derived buckets and exact counters make
    // the sketch itself bitwise cross-engine, not just within ε
    Q("q_text_countmin", (s, d) => {
      val toks = docs(s, d).select(explode(tokens(lower(col("text")))).as("tok"))
      val sk = graft.operators.CountMin.sketch(toks, col("tok"), d = 4, w = 1024)
      val truth = toks.groupBy("tok").agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("tok")).limit(20)
      val est = graft.operators.CountMin.estimate(
        sk, truth.select(col("tok")), col("tok"), d = 4, w = 1024)
      truth.join(est.withColumnRenamed("v", "tok"), "tok")
        .select("tok", "true_cnt", "est")
        .orderBy(col("true_cnt").desc, col("tok"))
    },
      s"""WITH t AS (
           SELECT ${sqlTokens("lower(text)")} AS toks
           FROM documents),
         x AS (SELECT unnest(toks) AS tok FROM t),
         sk AS (
           SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT r,
                    CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 15)
                      AS BIGINT) % 1024 AS bucket
             FROM x, range(0, 4) u(r))
           GROUP BY 1, 2),
         truth AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt
                   FROM x GROUP BY 1 ORDER BY true_cnt DESC, tok LIMIT 20),
         probe AS (
           SELECT tok, r,
                  CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 15)
                    AS BIGINT) % 1024 AS bucket
           FROM truth, range(0, 4) u(r)),
         e AS (SELECT probe.tok, min(coalesce(sk.cnt, 0)) AS est
               FROM probe LEFT JOIN sk USING (r, bucket) GROUP BY 1)
         SELECT truth.tok, true_cnt, est
         FROM truth JOIN e USING (tok)
         ORDER BY true_cnt DESC, tok"""),

    // exact heavy hitters over token bigrams via mergeable Misra–Gries +
    // candidate recount (operators/HeavyHitters): bounded O(capacity)
    // state per task in pass 1, broadcast-semi-join recount in pass 2 —
    // output provably identical to the oracle's plain groupBy + HAVING
    // (capacity >= k recall guarantee). Bigrams derive map-side from the
    // token array (zip_with over two slices — no positional self-join)
    Q("q_text_heavy_hitters", (s, d) => {
      val toks = tokens(lower(col("text")))
      val bigrams = docs(s, d).select(
        explode(when(size(toks) >= 2,
            zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
              (a, b) => concat_ws(" ", a, b)))
          .otherwise(array().cast("array<string>"))).as("bg"))
      graft.operators.HeavyHitters.exact(bigrams, col("bg"), k = 900, capacity = 1024)
    },
      s"""WITH t AS (
           SELECT ${sqlTokens("lower(text)")} AS toks
           FROM documents),
         b AS (
           SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS v
           FROM t),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM b)
         SELECT v, CAST(count(*) AS BIGINT) AS cnt
         FROM b GROUP BY 1
         HAVING count(*) * 900 > (SELECT n_total FROM n)
         ORDER BY cnt DESC, v"""),

    // tokenizer-vocabulary coverage: per doc, the fraction of tokens
    // outside the corpus top-100 vocabulary (OOV rate) — the coverage
    // audit run when sizing a vocabulary. The vocab is tiny and
    // BROADCAST; empty docs contribute no rows (no token instances)
    Q("q_text_oov_rate", (s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        explode(tokens(lower(col("text")))).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(100)
        .select(col("tok"), lit(1).as("__in"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          count(when(col("__in").isNull, 1)).as("n_oov"))
        .withColumn("oov_frac", col("n_oov").cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double"))
        .orderBy("doc_id")
    },
      s"""WITH $docToksCte,
         x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         v AS (SELECT tok, 1 AS inv FROM (
                 SELECT tok, count(*) AS cnt FROM x GROUP BY 1
                 ORDER BY cnt DESC, tok LIMIT 100)),
         j AS (SELECT x.doc_id, v.inv FROM x LEFT JOIN v USING (tok))
         SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(count(CASE WHEN inv IS NULL THEN 1 END) AS BIGINT) AS n_oov,
                CAST(count(CASE WHEN inv IS NULL THEN 1 END) AS DOUBLE)
                  / CAST(greatest(count(*), 1) AS DOUBLE) AS oov_frac
         FROM j GROUP BY 1 ORDER BY doc_id"""),

    // inter-document repetition: per doc, the fraction of its distinct
    // token 3-grams that occur in at least one OTHER document — the
    // RefinedWeb/Gopher-style duplicated-n-gram signal at corpus scope.
    // Plan shape: most n-grams are unique, so instead of joining every
    // (doc, ng) row against the full df table, only the (small) set of
    // n-grams with df ≥ 2 joins back — broadcastable, the "hot set"
    // pattern that keeps the corpus side map-side at 100 TB
    Q("q_text_dup_ngrams", (s, d) => {
      // consumed by three branches (df set, per-doc totals, dup join) —
      // materialize the tokenize+ngram+md5 explode once instead of
      // re-deriving it per branch (opt r13, guide §2.4)
      val g = docs(s, d).select(col("doc_id"),
          explode(array_distinct(tokenNgrams(col("text"), 3))).as("ng"))
        .withColumn("ng", md5(col("ng")))
        .localCheckpoint(false)
      val dupSet = g.groupBy("ng").agg(count(lit(1)).as("ndocs"))
        .where(col("ndocs") >= 2).select("ng")
      val counts = g.groupBy("doc_id").agg(count(lit(1)).as("n_ngrams"))
      val dup = g.join(broadcast(dupSet), "ng")
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
      counts.join(dup, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_dup"))
        .withColumn("dup_frac", col("n_dup").cast("double") /
          greatest(col("n_ngrams"), lit(1L)).cast("double"))
        .orderBy("doc_id")
    },
      s"""WITH t AS (
           SELECT doc_id,
                  ${sqlTokens("text")} AS toks
           FROM documents),
         g AS (
           SELECT DISTINCT doc_id, md5(array_to_string(toks[i+1 : i+3], ' ')) AS ng
           FROM t, lateral unnest(range(0, greatest(len(toks) - 2, 0))) u(i)),
         d AS (SELECT ng, count(DISTINCT doc_id) AS ndocs FROM g GROUP BY 1)
         SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_ngrams,
                CAST(count(CASE WHEN ndocs >= 2 THEN 1 END) AS BIGINT) AS n_dup,
                CAST(count(CASE WHEN ndocs >= 2 THEN 1 END) AS DOUBLE)
                  / CAST(greatest(count(*), 1) AS DOUBLE) AS dup_frac
         FROM g JOIN d USING (ng)
         GROUP BY 1 ORDER BY doc_id"""),

    // distributed BPE-trainer step: adjacent-symbol pair statistics over
    // the word VOCABULARY weighted by word frequency — the argmax pair is
    // the next BPE merge. Plan shape is the one that scales: corpus scan →
    // word-count aggregation (map-side combine, one shuffle), then the
    // char-pair explode runs over the vocabulary (thousands of rows), never
    // over the corpus
    Q("q_text_bpe_merges", (s, d) => {
      val words = docs(s, d)
        .select(explode(tokens(lower(col("text")))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wc"))
      // split(w, "") keeps a trailing "" (Java Pattern.split) that DuckDB's
      // string_split drops — filter empties, as fingerprintRolling does
      val chars = words.withColumn("cs",
        filter(split(col("w"), ""), c => c =!= lit("")))
      chars.select(col("wc"), explode(
          when(size(col("cs")) < 2, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(0), size(col("cs")) - 2),
              i => concat(element_at(col("cs"), i + 1), lit(" "),
                element_at(col("cs"), i + 2))))).as("pair"))
        .groupBy("pair").agg(sum(col("wc")).as("n_occ"))
        .orderBy(col("n_occ").desc, col("pair"))
        .limit(20)
    },
      s"""WITH t AS (
           SELECT ${sqlTokens("lower(text)")} AS toks
           FROM documents),
         w AS (SELECT unnest(toks) AS w FROM t),
         wc AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM w GROUP BY 1),
         cs AS (SELECT wc, string_split(w, '') AS cs FROM wc),
         p AS (SELECT wc, cs[i+1] || ' ' || cs[i+2] AS pair
               FROM cs, lateral unnest(range(0, greatest(len(cs) - 1, 0))) u(i))
         SELECT pair, CAST(sum(wc) AS BIGINT) AS n_occ
         FROM p GROUP BY 1 ORDER BY n_occ DESC, pair LIMIT 20"""),

    // temperature-based mixture reweighting (α = 0.5, the standard
    // up-weight-the-tail exponent): per-source doc counts → weight n^α →
    // share of the training mix. The cross-source weight total folds in
    // SOURCE ORDER over a sorted array — a groupBy sum of doubles would be
    // partition-order-dependent; this is the aggregate-level analogue of
    // the project's fixed-order IEEE fold rule
    Q("q_text_mix_weights", (s, d) => {
      val counts = docs(s, d).groupBy("source").agg(count(lit(1)).as("n_docs"))
      counts
        .agg(array_sort(collect_list(struct(col("source"), col("n_docs")))).as("a"))
        .select(explode(col("a")).as("e"),
          aggregate(col("a"), lit(0.0),
            (acc, x) => acc + sqrt(x.getField("n_docs").cast("double"))).as("total"))
        .select(col("e.source").as("source"), col("e.n_docs").as("n_docs"),
          (sqrt(col("e.n_docs").cast("double")) / col("total")).as("share"))
        .orderBy("source")
    },
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                    FROM documents GROUP BY 1),
         t AS (SELECT list_reduce(list_prepend(0.0,
                 list_transform(list(CAST(n_docs AS DOUBLE) ORDER BY source),
                   x -> sqrt(x))),
                 (p, q) -> p + q) AS total FROM c)
         SELECT source, n_docs, sqrt(CAST(n_docs AS DOUBLE)) / t.total AS share
         FROM c, t ORDER BY source"""),

    // RAKE keyword extraction: stopword runs delimit candidate phrases
    // (island ids from one per-doc prefix-sum window over the token
    // stream), word degree/frequency stats aggregate globally, and each
    // phrase scores the sum of its members' exact milli deg/freq ratios.
    // Everything is exploded-token joins + aggregations — no per-doc
    // driver logic — and the only windows are per-doc position scans
    Q("q_text_rake", (s, d) => {
      val toks = docs(s, d)
        .select(col("doc_id"), posexplode(tokens(normalized(col("text")))))
        .withColumnRenamed("col", "w")
      val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      val marked = toks
        .withColumn("is_stop",
          col("w").isInCollection(Stopwords).cast("int"))
        .withColumn("island", sum(col("is_stop")).over(wDoc))
      val pw = marked.where(col("is_stop") === 0)
        .select(col("doc_id"), col("island"), col("pos"), col("w"))
      val phrases = pw
        .groupBy(col("doc_id"), col("island"))
        .agg(array_sort(collect_list(struct(col("pos"), col("w")))).as("a"))
        .select(col("doc_id"), col("island"),
          transform(col("a"), x => x.getField("w")).as("ws"))
        .withColumn("phrase", array_join(col("ws"), " "))
        .withColumn("plen", size(col("ws")).cast("long"))
      val stats = phrases.select(explode(col("ws")).as("w"), col("plen"))
        .groupBy("w")
        .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
        .withColumn("score_milli",
          call_function("div", col("deg") * 1000L, col("freq")))
      phrases
        .select(col("doc_id"), col("island"), col("phrase"), col("plen"),
          explode(col("ws")).as("w"))
        .join(stats.select(col("w"), col("score_milli")), "w")
        .groupBy(col("doc_id"), col("island"), col("phrase"), col("plen"))
        .agg(sum(col("score_milli")).as("pscore"))
        .groupBy(col("phrase"))
        .agg(min(col("plen")).as("n_words"), min(col("pscore")).as("score_milli"),
          count(lit(1)).as("n_occ"))
        .orderBy(col("score_milli").desc, col("phrase"))
        .limit(20)
    },
      // positional unnest (unnest + generate_subscripts expand in lockstep)
      // mirrors posexplode; the island window and the deg/freq stats follow
      // the Spark plan exactly
      s"""WITH n AS (
           SELECT doc_id,
                  ${sqlNormalized("text")} AS nt
           FROM documents),
         t AS (SELECT doc_id, ${sqlTokens("nt")} AS toks FROM n),
         x AS (SELECT doc_id, unnest(toks) AS w,
                      generate_subscripts(toks, 1) - 1 AS pos
               FROM t),
         m AS (SELECT doc_id, w, pos,
                      CASE WHEN list_contains(
                             ['the','a','an','and','or','of','to','in','is','it'], w)
                           THEN 1 ELSE 0 END AS is_stop
               FROM x),
         i AS (SELECT doc_id, w, pos, is_stop,
                      sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos)
                        AS island
               FROM m),
         pw AS (SELECT doc_id, island, pos, w FROM i WHERE is_stop = 0),
         ph AS (SELECT doc_id, island,
                       string_agg(w, ' ' ORDER BY pos) AS phrase,
                       CAST(count(*) AS BIGINT) AS plen
                FROM pw GROUP BY 1, 2),
         mem AS (SELECT pw.w, ph.plen, pw.doc_id, pw.island, ph.phrase
                 FROM pw JOIN ph USING (doc_id, island)),
         st AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
                       CAST(sum(plen) AS BIGINT) AS deg
                FROM mem GROUP BY 1),
         sc AS (SELECT w, deg * 1000 // freq AS score_milli FROM st),
         ps AS (SELECT mem.doc_id, mem.island, mem.phrase, mem.plen,
                       CAST(sum(sc.score_milli) AS BIGINT) AS pscore
                FROM mem JOIN sc USING (w)
                GROUP BY 1, 2, 3, 4),
         agg AS (SELECT phrase, CAST(min(plen) AS BIGINT) AS n_words,
                        CAST(min(pscore) AS BIGINT) AS score_milli,
                        CAST(count(*) AS BIGINT) AS n_occ
                 FROM ps GROUP BY 1)
         SELECT phrase, n_words, score_milli, n_occ
         FROM agg ORDER BY score_milli DESC, phrase LIMIT 20"""),

    // corpus document frequency: tokens by number of documents containing
    // them, top 20 (deterministic tiebreak on the token)
    Q("q_text_docfreq", (s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        explode(array_distinct(tokens(lower(col("text"))))).as("tok"))
      toks.groupBy("tok").agg(countDistinct("doc_id").as("df"))
        .orderBy(col("df").desc, col("tok"))
        .limit(20)
    },
      s"""WITH t AS (
           SELECT doc_id,
                  unnest(list_distinct(
                    ${sqlTokens("lower(text)")})) AS tok
           FROM documents)
         SELECT tok, count(DISTINCT doc_id) AS df
         FROM t GROUP BY tok ORDER BY df DESC, tok LIMIT 20"""),

    // exact phrase search over the positional inverted index: per-term
    // postings pre-filtered by literal (pushdown), pos-adjacency equi-joins
    Q("q_text_phrase", (s, d) =>
      graft.text.InvertedIndex.phraseMatches(
          postings(s, d).withColumnRenamed("tok", "term"), Seq("fast", "table"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_hits"),
          min("pos").cast("long").as("first_pos"))
        .orderBy("doc_id"),
      s"""WITH ${postingsCtes("tok", "term")}
         SELECT a.doc_id,
                CAST(count(*) AS BIGINT) AS n_hits,
                CAST(min(a.pos) AS BIGINT) AS first_pos
         FROM tok a JOIN tok b
           ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         WHERE a.term = 'fast' AND b.term = 'table'
         GROUP BY a.doc_id ORDER BY a.doc_id"""),

    // corpus-duplicated trigram span removal: tokens covered by any 3-gram
    // occurring >1 time anywhere are dropped, survivors reassembled
    Q("q_text_span_removal", (s, d) =>
      graft.text.SpanDedup.removeDuplicatedSpansFromTokens(postings(s, d), n = 3)
        .orderBy("doc_id"),
      s"""WITH ${postingsCtes("tok")},
         g AS (
           SELECT doc_id, pos,
                  tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS g,
                  lead(tok, 2) OVER w IS NOT NULL AS ok
           FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         starts AS (SELECT doc_id, pos, g FROM g WHERE ok),
         dup AS (SELECT g FROM starts GROUP BY g HAVING count(*) > 1),
         cov AS (
           SELECT DISTINCT s.doc_id, s.pos + r.d AS pos
           FROM starts s JOIN dup USING (g), range(0, 3) r(d)),
         kept AS (
           SELECT tok.doc_id, tok.pos, tok.tok
           FROM tok LEFT JOIN cov
             ON cov.doc_id = tok.doc_id AND cov.pos = tok.pos
           WHERE cov.doc_id IS NULL),
         agg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                  md5(string_agg(tok, ' ' ORDER BY pos)) AS kept_md5
           FROM kept GROUP BY doc_id),
         alld AS (SELECT DISTINCT doc_id FROM tok)
         SELECT alld.doc_id AS doc_id,
                CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
                COALESCE(agg.kept_md5, md5('')) AS kept_md5
         FROM alld LEFT JOIN agg USING (doc_id) ORDER BY doc_id"""),

    // per-document top-3 TF-IDF terms, integer-exact: idf quantized to
    // micro-units per DISTINCT df (the audited-transcendental trick from
    // BM25), score = tf · idf_micro — pure integer product, no division
    Q("q_text_tfidf", (s, d) => {
      val tf = postings(s, d)
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val nDocs = docs(s, d).agg(count(lit(1)).as("n"))
      val idf = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        .crossJoin(nDocs) // 1-row broadcast
        .withColumn("idf_micro",
          floor(log((col("n") + lit(1.0)) / (col("df") + lit(1.0)))
            * 1000000.0 + 0.5).cast("long"))
        .select("tok", "idf_micro")
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score_micro").desc, col("tok"))
      tf.join(idf, "tok")
        .withColumn("score_micro", col("tf") * col("idf_micro"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select("doc_id", "rank", "tok", "score_micro")
        .orderBy("doc_id", "rank")
    },
      s"""WITH $docToksCte,
         x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
                FROM x GROUP BY 1, 2),
         dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
         idf AS (SELECT tok,
                        CAST(floor(ln((st.n + 1.0) / (df + 1.0)) * 1000000.0 + 0.5)
                          AS BIGINT) AS idf_micro
                 FROM dft, st),
         sc AS (SELECT doc_id, tf.tok,
                       CAST(tf * idf_micro AS BIGINT) AS score_micro
                FROM tf JOIN idf USING (tok)),
         r AS (SELECT doc_id, tok, score_micro,
                      CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY score_micro DESC, tok) AS BIGINT) AS rank
               FROM sc)
         SELECT doc_id, rank, tok, score_micro FROM r
         WHERE rank <= 3 ORDER BY doc_id, rank"""),

    // word2vec-style skip-gram pair statistics (forward window ±0/+1/+2 —
    // symmetric pairs would just double every count): lead windows over
    // one doc_id exchange, one hash aggregate, top-20
    Q("q_text_skipgrams", (s, d) => {
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val toks = postings(s, d).withColumnRenamed("tok", "center")
      // both leads share one WindowSpec → a single Window operator over
      // one doc_id exchange; the offset union is a post-window explode,
      // not a second scan
      val pairs = toks
        .withColumn("c1", lead(col("center"), 1).over(w))
        .withColumn("c2", lead(col("center"), 2).over(w))
        .select(col("center"), explode(array(col("c1"), col("c2"))).as("context"))
        .where(col("context").isNotNull)
      pairs.groupBy("center", "context").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("center"), col("context"))
        .limit(20)
    },
      s"""WITH ${postingsCtes("tok", "center")},
         led AS (
           SELECT center, lead(center, 1) OVER w AS c1, lead(center, 2) OVER w AS c2
           FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         pairs AS (
           SELECT center, c1 AS context FROM led
           UNION ALL
           SELECT center, c2 AS context FROM led)
         SELECT center, context, CAST(count(*) AS BIGINT) AS cnt
         FROM pairs WHERE context IS NOT NULL
         GROUP BY 1, 2
         ORDER BY cnt DESC, center, context LIMIT 20"""),

    // hashing-trick document vectorizer (the text→vector bridge): tokens
    // hash into 16 md5 buckets, per-doc bucket counts form the sparse
    // feature vector; emitted as a dense ordered fingerprint + summary
    // stats so the contract stays integer/string-exact
    Q("q_text_hash_vectors", (s, d) => {
      val bucketed = postings(s, d)
        .withColumn("b",
          pmod(conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long"), lit(16L)))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      // dense 16-slot vector per doc (zeros included) via an ordered
      // collected struct list — no pivot (16 fixed slots, array algebra)
      bucketed.groupBy("doc_id")
        .agg(collect_list(struct(col("b"), col("c"))).as("bc"))
        .select(col("doc_id"),
          transform(sequence(lit(0L), lit(15L)), i =>
            coalesce(
              element_at(map_from_entries(col("bc")), i), lit(0L))).as("v"))
        .select(col("doc_id"),
          size(filter(col("v"), x => x > 0L)).cast("long").as("nnz"),
          aggregate(col("v"), lit(0L), (a, x) => a + x).as("total"),
          md5(array_join(transform(col("v"), _.cast("string")), ",")).as("vec_md5"))
        .orderBy("doc_id")
    },
      s"""WITH $docToksCte,
         x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         bc AS (SELECT doc_id,
                       CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT) % 16 AS b,
                       CAST(count(*) AS BIGINT) AS c
                FROM x GROUP BY 1, 2),
         dense AS (
           SELECT d.doc_id, r.b, COALESCE(bc.c, 0) AS c
           FROM (SELECT DISTINCT doc_id FROM bc) d
           CROSS JOIN range(0, 16) r(b)
           LEFT JOIN bc ON bc.doc_id = d.doc_id AND bc.b = r.b)
         SELECT doc_id,
                CAST(count(*) FILTER (c > 0) AS BIGINT) AS nnz,
                CAST(sum(c) AS BIGINT) AS total,
                md5(string_agg(CAST(c AS VARCHAR), ',' ORDER BY b)) AS vec_md5
         FROM dense GROUP BY doc_id ORDER BY doc_id"""),

    // PMI-ranked bigram collocations — the phrase-mining signal:
    // pmi = ln( (c_xy/T) / ((c_x/N)·(c_y/N)) ), computed on integer
    // counts with ONE leaf-quantized ln per qualifying bigram (count
    // floor 5 bounds the audited input set); top-20 deterministic
    Q("q_text_collocations", (s, d) => {
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val uni = postings(s, d).groupBy("tok").agg(count(lit(1)).as("cx"))
      val nTok = postings(s, d).agg(count(lit(1)).as("n"))
      val bi = postings(s, d)
        .withColumn("w2", lead(col("tok"), 1).over(w))
        .where(col("w2").isNotNull)
        .select(col("tok").as("w1"), col("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
        .where(col("cxy") >= 5)
      val tBi = postings(s, d)
        .withColumn("w2", lead(col("tok"), 1).over(w))
        .where(col("w2").isNotNull)
        .agg(count(lit(1)).as("t"))
      bi
        .join(uni.select(col("tok").as("w1"), col("cx").as("c1")), "w1")
        .join(uni.select(col("tok").as("w2"), col("cx").as("c2")), "w2")
        .crossJoin(nTok).crossJoin(tBi)
        .withColumn("pmi_micro",
          floor(log((col("cxy").cast("double") * col("n") * col("n")) /
            (col("t").cast("double") * col("c1") * col("c2")))
            * 1000000.0 + 0.5).cast("long"))
        .select(col("w1"), col("w2"), col("cxy").as("n_xy"), col("pmi_micro"))
        .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
        .limit(20)
    },
      s"""WITH ${postingsCtes("tok")},
         uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS cx FROM tok GROUP BY 1),
         nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
         led AS (
           SELECT tok AS w1, lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
           FROM tok),
         bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cxy
                FROM led WHERE w2 IS NOT NULL
                GROUP BY 1, 2 HAVING count(*) >= 5),
         tb AS (SELECT CAST(count(*) AS BIGINT) AS t
                FROM led WHERE w2 IS NOT NULL)
         SELECT w1, w2, cxy AS n_xy,
                CAST(floor(ln((CAST(cxy AS DOUBLE) * nt.n * nt.n)
                       / (CAST(tb.t AS DOUBLE) * u1.cx * u2.cx))
                  * 1000000.0 + 0.5) AS BIGINT) AS pmi_micro
         FROM bi
         JOIN uni u1 ON u1.tok = w1
         JOIN uni u2 ON u2.tok = w2, nt, tb
         ORDER BY pmi_micro DESC, w1, w2 LIMIT 20"""),

    // per-document unigram entropy in micro-nats — the repetitiveness /
    // diversity quality signal. Integer-exact contract: each distinct
    // (doc_len, count) ratio's ln is quantized at the leaf (audited
    // transcendental site), then H = Σ c·ln(dl/c)_micro ÷ dl is all
    // integer arithmetic
    Q("q_text_entropy", (s, d) => {
      val cnt = postings(s, d)
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val dl = cnt.groupBy("doc_id").agg(sum("c").as("dl"))
      cnt.join(dl, "doc_id")
        .withColumn("t", floor(log(col("dl").cast("double") / col("c").cast("double"))
          * 1000000.0 + 0.5).cast("long"))
        .groupBy("doc_id")
        .agg(call_function("div", sum(col("c") * col("t")), max(col("dl")))
          .as("entropy_micro"),
          max(col("dl")).as("dl"))
        .orderBy("doc_id")
    },
      s"""WITH $docToksCte,
         x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         cnt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
                 FROM x GROUP BY 1, 2),
         dlen AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS dl
                  FROM cnt GROUP BY 1),
         term AS (
           SELECT cnt.doc_id, c, dl,
                  CAST(floor(ln(CAST(dl AS DOUBLE) / CAST(c AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS t
           FROM cnt JOIN dlen USING (doc_id))
         SELECT doc_id,
                CAST(CAST(sum(c * t) AS BIGINT) // max(dl) AS BIGINT)
                  AS entropy_micro,
                CAST(max(dl) AS BIGINT) AS dl
         FROM term GROUP BY doc_id ORDER BY doc_id"""),

    // Zipf rank-frequency fit per source: OLS slope of ln(freq) on
    // ln(rank) over the source's term table (slope ≈ −1 for natural
    // text — a corpus-health diagnostic that flags synthetic or
    // boilerplate-heavy sources). ln is quantized at the leaf per
    // distinct rank/frequency (both small-integer domains — audited
    // sites), the OLS moments accumulate as exact integers (DECIMAL(38)
    // headroom for web-scale vocabularies), and the slope is the same
    // fixed-shape IEEE expression over those exact sums on both engines
    Q("q_text_zipf_slope", (s, d) => {
      val tf = postings(s, d)
        .join(docs(s, d).select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source", "tok").agg(count(lit(1)).as("f"))
      val w = Window.partitionBy("source").orderBy(col("f").desc, col("tok"))
      val xy = tf.withColumn("rk", row_number().over(w).cast("long"))
        .select(col("source"),
          floor(log(col("rk").cast("double")) * 1000000.0 + 0.5)
            .cast("long").as("x"),
          floor(log(col("f").cast("double")) * 1000000.0 + 0.5)
            .cast("long").as("y"))
      xy.groupBy("source").agg(
          count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).cast("double").as("sx"),
          sum(col("y").cast("decimal(38,0)")).cast("double").as("sy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).cast("double").as("sxx"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).cast("double").as("sxy"))
        .select(col("source"), col("n"),
          ((col("n").cast("double") * col("sxy") - col("sx") * col("sy")) /
            (col("n").cast("double") * col("sxx") - col("sx") * col("sx")))
            .as("zipf_slope"))
        .orderBy("source")
    },
      s"""WITH $docToksCte,
         x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         tf AS (SELECT d.source, x.tok, CAST(count(*) AS BIGINT) AS f
                FROM x JOIN documents d USING (doc_id) GROUP BY 1, 2),
         r AS (SELECT source, f,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY f DESC, tok) AS rk
               FROM tf),
         xy AS (SELECT source,
                       CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000000.0 + 0.5)
                         AS BIGINT) AS x,
                       CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000.0 + 0.5)
                         AS BIGINT) AS y
                FROM r),
         m AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS DOUBLE) AS sx,
                      CAST(sum(y) AS DOUBLE) AS sy,
                      CAST(sum(x * x) AS DOUBLE) AS sxx,
                      CAST(sum(x * y) AS DOUBLE) AS sxy
               FROM xy GROUP BY 1)
         SELECT source, n,
                (CAST(n AS DOUBLE) * sxy - sx * sy)
                  / (CAST(n AS DOUBLE) * sxx - sx * sx) AS zipf_slope
         FROM m ORDER BY source"""),

    // boilerplate opening detection: shared 3-token document prefixes —
    // the template-header signal (scraped pages opening with the same
    // navigation/disclaimer text). One projection + vocabulary-sized
    // histogram; the prefix complements the stitch (suffix↔prefix) and
    // span-removal operators
    Q("q_text_boilerplate_prefix", (s, d) =>
      docs(s, d).select(concat_ws(" ",
          slice(tokens(lower(col("text"))), 1, 3)).as("prefix"))
        .groupBy("prefix").agg(count(lit(1)).as("n_docs"))
        .where(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("prefix"))
        .limit(20),
      s"""WITH t AS (
           SELECT ${sqlTokens("lower(text)")}
                    AS toks
           FROM documents)
         SELECT array_to_string(toks[1:3], ' ') AS prefix,
                CAST(count(*) AS BIGINT) AS n_docs
         FROM t GROUP BY 1 HAVING count(*) >= 2
         ORDER BY n_docs DESC, prefix LIMIT 20"""),

    // vocabulary richness: hapax legomena rate per source — the share of
    // a source's vocabulary seen exactly once. Boilerplate-heavy or
    // templated sources show depressed hapax rates; natural text sits
    // near half its vocabulary. One term-frequency aggregate, then a
    // sources-sized rollup
    Q("q_text_hapax", (s, d) =>
      postings(s, d)
        .join(docs(s, d).select(col("doc_id"), col("source")), "doc_id")
        .groupBy("source", "tok").agg(count(lit(1)).as("f"))
        .groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          count(when(col("f") === 1, 1)).as("hapax"))
        .withColumn("hapax_ppm", expr("hapax * 1000000 DIV vocab"))
        .orderBy("source"),
      s"""WITH $docToksCte,
         x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         tf AS (SELECT d.source, x.tok, CAST(count(*) AS BIGINT) AS f
                FROM x JOIN documents d USING (doc_id) GROUP BY 1, 2),
         v AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab,
                      CAST(count(CASE WHEN f = 1 THEN 1 END) AS BIGINT)
                        AS hapax
               FROM tf GROUP BY 1)
         SELECT source, vocab, hapax,
                CAST(hapax * 1000000 // vocab AS BIGINT) AS hapax_ppm
         FROM v ORDER BY source"""),

    // TextRank keyword extraction: PageRank over the word co-occurrence
    // graph (adjacent-token pairs, undirected). Reuses the integer
    // PageRank operator — ranks in 1e-12 units, bitwise across engines —
    // so the oracle is the same unrolled recurrence over string nodes.
    // Graph build is one self-join of the shared postings projection on
    // (doc, pos+1); vertices are vocabulary-sized, so the per-iteration
    // rank table broadcasts and each iteration costs one exchange
    Q("q_text_textrank", (s, d) => {
      // the co-occurrence edge table is referenced by every PageRank
      // iteration (nodes, degrees, and the per-iteration contribution
      // join) — memoize it, or each reference re-runs the postings
      // self-join (measured 3.7 s → ~1 s at sf0.1)
      val edges = QueryCaches.memo(s, d, "textrank_edges") {
        val p = postings(s, d)
        val adj = p.as("a").join(p.as("b"),
            col("a.doc_id") === col("b.doc_id") &&
              col("b.pos") === col("a.pos") + 1 &&
              col("a.tok") =!= col("b.tok"))
          .select(col("a.tok").as("u"), col("b.tok").as("v"))
        adj.select(col("u").as("src"), col("v").as("dst"))
          .unionByName(adj.select(col("v").as("src"), col("u").as("dst")))
          .distinct()
      }
      graft.operators.PageRank.integerPageRank(edges, col("src"), col("dst"),
          iters = 3)
        .orderBy(col("pr").desc, col("node")).limit(25)
    },
      s"""WITH ${postingsCtes("tok")},
        adj AS (
          SELECT a.tok AS u, b.tok AS v
          FROM tok a JOIN tok b
            ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 AND a.tok <> b.tok),
        e AS (SELECT u AS src, v AS dst FROM adj
              UNION SELECT v, u FROM adj),
        ${sqlIntegerPageRank(3)}
        SELECT node, pr FROM r3 ORDER BY pr DESC, node LIMIT 25"""),

    // type-token ratio (lexical diversity) per document — the corpus
    // curation signal between quality (surface ratios) and vocab metrics
    // (corpus level). Pure per-row Column algebra over the shared
    // whitespace tokenizer: no shuffle at all except the output sort;
    // ratio in exact ppm (WideDiv discipline)
    Q("q_text_ttr", (s, d) =>
      docs(s, d)
        .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_types"))
        .withColumn("ttr_ppm", when(col("n_tokens") === 0, lit(0L))
          .otherwise(ppmWide(col("n_types"), col("n_tokens"))))
        .orderBy("doc_id"),
      s"""WITH $docToksCte
         SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
                CASE WHEN len(toks) = 0 THEN 0
                     ELSE CAST(CAST(len(list_distinct(toks)) AS HUGEINT)
                               * 1000000 // len(toks) AS BIGINT)
                END AS ttr_ppm
         FROM t ORDER BY doc_id"""),

    // Heaps'-law vocabulary growth curve: cumulative token count vs
    // cumulative distinct-type count at 10 corpus-order checkpoints
    // (doc_id deciles). The "will the vocabulary saturate" projection a
    // tokenizer-budget decision reads. Scalable shape: NO cumulative
    // distinct-counting pass — each type contributes exactly once at the
    // decile of its FIRST occurrence (min bucket per token, one
    // vocabulary-sized aggregate), so cum_types is a running sum over the
    // 10-row bucket domain (bounded window, documented), and cum_tokens a
    // second. The postings explode is the only corpus-sized work (shared
    // memoized postings table).
    Q("q_text_heaps", (s, d) => {
      val mx = docs(s, d).agg(max(col("doc_id")).as("mx"))
      val b = postings(s, d).crossJoin(broadcast(mx))
        .select(expr("doc_id * 10 DIV (mx + 1)").as("bucket"), col("tok"))
      val tokCnt = b.groupBy("bucket").agg(count(lit(1)).as("n_toks"))
      val newTypes = b.groupBy("tok").agg(min(col("bucket")).as("fb"))
        .groupBy(col("fb").as("bucket")).agg(count(lit(1)).as("n_new"))
      // ≤ 10-row domain: the running sums are keys-sized by construction
      val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      tokCnt.join(newTypes, Seq("bucket"), "left")
        .na.fill(0L, Seq("n_new"))
        .select(col("bucket"), sum(col("n_toks")).over(w).as("cum_tokens"),
          sum(col("n_new")).over(w).as("cum_types"))
        .orderBy("bucket")
    },
      s"""WITH $docToksCte,
         x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         mx AS (SELECT max(doc_id) AS mx FROM documents),
         b AS (SELECT doc_id * 10 // (mx + 1) AS bucket, tok FROM x, mx),
         tb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_toks
                FROM b GROUP BY 1),
         ty AS (SELECT tok, min(bucket) AS fb FROM b GROUP BY 1),
         nb AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_new
                FROM ty GROUP BY 1)
         SELECT tb.bucket AS bucket,
                CAST(sum(tb.n_toks) OVER (ORDER BY tb.bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens,
                CAST(sum(COALESCE(nb.n_new, 0)) OVER (ORDER BY tb.bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_types
         FROM tb LEFT JOIN nb ON tb.bucket = nb.bucket
         ORDER BY bucket""")
  )
}
