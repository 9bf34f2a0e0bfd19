package graft.queries

import graft.Tables
import graft.dedup.Dedup
import graft.queries.QueryBlocks.sqlEmbeddings
import graft.similarity.Similarity
import graft.text.TextFunctions.{sqlNormalized, sqlTokens}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Driver-verifiable queries for the dedup extension operators
  * (graft.dedup.Dedup, graft.similarity.Similarity) over `documents` and
  * `embeddings`.
  *
  * Thresholds are calibrated on the fixture: true near-dup pairs sit at
  * Jaccard ≥ 0.97 / SimHash Hamming ≤ 7 with the nearest noise at
  * Jaccard < 0.2 / Hamming ≥ 15, so jac ≥ 0.8 and ham ≤ 8 are safely
  * inside the separation margin (no engine-boundary sensitivity).
  */
object DedupQueries {

  private val K = 8        // minhash signature length
  private val BANDS = 4    // LSH bands (r = 2)
  private val R = 2
  private val NGRAM = 3    // word-shingle width
  // Candidate-stage df cutoff: 0.2% of the corpus, floored at 8. An
  // ABSOLUTE cap is a scale bug, found live at sf1: the verbatim 10×
  // fixture gives every shingle df ≥ 10, so df ≤ 8 excluded every hash
  // and the containment/jaccard/sweep gates went VACUOUS (0 rows on both
  // engines). A corpus-relative cap keeps duplicated shingles inside the
  // candidate index no matter the duplication factor, while still pruning
  // stop-shingles (at sf0.1 it drops 85% of inverted-index join pairs at
  // 4/256 recall cost — pairs overlapping only in stop-shingles, which
  // MinHash-LSH catches). sf0.001/sf0.01 values are unchanged (cap still
  // 8 there). At 100 TB the same fraction holds the same argument — a
  // hash carried by >0.2% of documents is boilerplate, not signal — and
  // the per-hash join contribution stays bounded at cap² under AQE's
  // skew split.
  private def maxDf(s: SparkSession, d: String): Int =
    math.max(8, (docCount(s, d) / 500L).toInt)
  // Above this many documents, the prefix-filter losslessness proof runs
  // on the md5-mod-m sampled stratum instead of the full corpus (the
  // unfiltered oracle is Θ(Σdf²) — quadratic on the verbatim-duplicated
  // sf1 fixture). Gate SFs (≤ ~5k docs) stay on the full proof.
  private[queries] val PrefixProofCap = 10000L

  /** Proof-stratum restriction for q_dedup_prefix_filter: identity at
    * n ≤ cap; above it keep only pairs TOUCHING the md5-mod-m sample
    * (m = largest power of 2 ≤ n/250 — the ann_recall_sampled modulus,
    * derived from count(*) identically by the oracle). The sample
    * predicate hashes to 52 bits (13 hex nibbles — the KmvDistinctAgg
    * prefix), not 16: a 16-bit prefix saturates once m > 2^16
    * (n ≳ 33M docs), degenerating 'h % m == 0' to 'h == 0' and growing
    * the stratum as n/2^16 instead of holding ~250–500 docs (ADVICE
    * r11); 52 bits keeps the fixed-size-stratum and Θ((k/n)·Σdf²)
    * oracle-cost claims intact past 10^12 documents. Factored so a
    * spec can force the sampled branch at fixture scale (cap = 0) and
    * check the predicate against an independent JVM-side md5. */
  private[queries] def prefixProofStratum(pairs: DataFrame, n: Long,
                                          cap: Long): DataFrame =
    if (n <= cap) pairs
    else {
      val m = math.max(1L, java.lang.Long.highestOneBit(n / 250L))
      def inSample(c: Column) =
        conv(substring(md5(concat(lit("pfx:"), c)), 1, 13), 16, 10)
          .cast("long") % m === 0
      pairs.where(inSample(col("ida")) || inSample(col("idb")))
    }
  // oracle twin: the `keep` CTE of [[dfCappedCandCte]]
  // metadata-cheap corpus counts, built once per (session, dir)
  private def docCount(s: SparkSession, d: String): Long =
    QueryCaches.once(s, d, "doc_count")(docs(s, d).count())(_ => ())
  // the embeddings corpus (sampled recall's modulus derivation)
  private def vecCount(s: SparkSession, d: String): Long =
    QueryCaches.once(s, d, "vec_count")(Tables.embeddings(s, d).count())(_ => ())

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  /** documents + distinct 3-gram shingles + 8-element minhash signature.
    * Cached via [[QueryCaches]]: every dedup query self-joins or reuses this
    * projection, so both sides of a self-join and sibling queries share one
    * materialization instead of recomputing the shingle/signature pipeline
    * per branch (the cluster analogue: persist the signature table before
    * candidate generation), with an explicit unpersist at end of suite. */
  private def withSig(s: SparkSession, d: String): DataFrame =
    QueryCaches.memo(s, d, "dedup_sig") {
      docs(s, d).select(col("doc_id"), Dedup.shingles(col("text"), NGRAM).as("shingles"))
        .withColumn("sig", Dedup.minhashSignature(col("shingles"), K))
    }

  /** Memoized 60-bit shingle-hash arrays `(doc_id, hs)`: the candidate
    * stage and both verify joins of the jaccard, threshold-sweep,
    * containment and prefix-filter queries reuse the hash arrays. */
  private def dedupHashes(s: SparkSession, d: String): DataFrame =
    QueryCaches.memo(s, d, "dedup_hashes") {
      withSig(s, d)
        .select(col("doc_id"), Dedup.shingleHashes(col("shingles")).as("hs"))
    }

  /** Cached SimHash signatures (shared by the _sig and _pairs queries). */
  private def simhashSig(s: SparkSession, d: String): DataFrame =
    QueryCaches.memo(s, d, "dedup_simhash") {
      Dedup.simhash(withSig(s, d), col("doc_id"), col("shingles"))
    }

  /** MinHash-LSH candidate pairs `(ida, idb)` with each side's signature
    * (`sa`, `sb`) and shingles (`xa`, `xb`). */
  private def lshCandSides(s: SparkSession, d: String): DataFrame = {
    val sig = withSig(s, d)
    Dedup.lshCandidates(sig, col("doc_id"), col("sig"), BANDS, R)
      .join(sig.select(col("doc_id").as("ida"), col("sig").as("sa"),
        col("shingles").as("xa")), "ida")
      .join(sig.select(col("doc_id").as("idb"), col("sig").as("sb"),
        col("shingles").as("xb")), "idb")
  }

  /** How many of the K signature components of `sa` and `sb` agree. */
  private def sigMatches: Column =
    size(filter(sequence(lit(0), lit(K - 1)),
      i => get(col("sa"), i) === get(col("sb"), i))).cast("long")

  /** Memoized MinHash-LSH verified pair table (ida, idb, sig_matches, jac
    * ≥ 0.8) — shared by q_dedup_minhash_lsh and q_dedup_clusters. */
  private def minhashPairs(s: SparkSession, d: String): DataFrame =
    QueryCaches.memo(s, d, "minhash_pairs") {
      lshCandSides(s, d)
        .withColumn("sig_matches", sigMatches)
        .withColumn("jac", Dedup.jaccard(col("xa"), col("xb")))
        .where(col("jac") >= 0.8)
        .select("ida", "idb", "sig_matches", "jac")
    }

  /** Memoized min-label components over the verified MinHash pair graph —
    * q_dedup_clusters and the cross-modal consistency join
    * (MultimodalQueries) read the identical table. */
  private[queries] def textClusterTable(s: SparkSession, d: String): DataFrame =
    QueryCaches.memo(s, d, "text_cluster_table") {
      Dedup.duplicateClusters(minhashPairs(s, d), col("ida"), col("idb"))
    }

  /** Memoized radius-2 multiprobe sign-LSH pair table, verified at the
    * ANN-dedup gate threshold (cos ≥ 0.45) BEFORE caching — radius-2
    * candidate volume is ~4× radius-1 and caching it pre-filter OOM'd an
    * 8 GB driver at sf1 (found live: the memo materialized millions of
    * below-threshold pairs nothing consumes). Cache the verified survivors
    * only: the cluster rule — persist post-filter, not pre-filter.
    * (q_dedup_semdedup_ann; recall-bound derivation at that query.) */
  private def annPairsR2(s: SparkSession, d: String): DataFrame =
    QueryCaches.memo(s, d, "sign_lsh_pairs_r2") {
      Similarity.signLshPairs(Tables.embeddings(s, d),
        SimilarityQueries.LshSeed, SimilarityQueries.LshBands,
        SimilarityQueries.LshWidth, SimilarityQueries.LshMaxBucket,
        probeRadius = 2)
        .where(col("cos") >= 0.45)
    }

  /** The PRODUCTION ANN geometry (SCALING_sf1.md round-10 A/B): width 12
    * sized to corpus occupancy (`width ≥ log2(n / target_bucket)` → 12 at
    * the 20k-vector scale fixture), bands doubled to 32 to buy the recall
    * back (measured 99.92% of threshold pairs at 11.4× less candidate
    * volume than the fixture's w8 b16). Memoized verified-survivors-only,
    * same post-filter cache rule as [[annPairsR2]]. */
  private[queries] val ProdLshBands = 32
  private[queries] val ProdLshWidth = 12
  private def annPairsProd(s: SparkSession, d: String): DataFrame =
    QueryCaches.memo(s, d, "sign_lsh_pairs_prod") {
      Similarity.signLshPairs(Tables.embeddings(s, d),
        SimilarityQueries.LshSeed, ProdLshBands, ProdLshWidth,
        SimilarityQueries.LshMaxBucket, probeRadius = 2)
        .where(col("cos") >= 0.45)
    }

  /** SemDeDup keep rule over a verified ANN pair table and its component
    * table `clusters(doc_id, cluster_id)`: per-member summed
    * micro-quantized cosine centrality, keep the most central member per
    * cluster — shared by the fixture-geometry and production-geometry gate
    * rows (star components, [[starKeep]]) so the two differ ONLY in the
    * candidate stage they audit, and by q_dedup_semdedup_keep (min-label
    * components). */
  private def semdedupKeep(pairs: DataFrame, clusters: DataFrame): DataFrame = {
    val members = clusters.select(col("doc_id").as("vec_id"), col("cluster_id"))
    val directed = pairs.select(col("va").as("vec_id"), col("cos"))
      .unionByName(pairs.select(col("vb").as("vec_id"), col("cos")))
      .withColumn("cm", floor(col("cos") * 1000000.0 + 0.5).cast("long"))
    val strength = directed.groupBy("vec_id")
      .agg(sum("cm").as("centrality_micro"))
    members.join(strength, "vec_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("centrality_micro"), col("vec_id"))).as("mx"))
      .select(col("cluster_id"), col("n_members"),
        col("mx.vec_id").as("keep_id"),
        col("mx.centrality_micro").as("keep_centrality_micro"))
      .orderBy("cluster_id")
  }

  /** [[semdedupKeep]] over the star components of `pairs`. */
  private def starKeep(pairs: DataFrame): DataFrame =
    semdedupKeep(pairs,
      graft.operators.StarComponents.components(pairs, col("va"), col("vb")))

  /** `edges` + recursive `reach(id, r)` over a pair CTE `p(va, vb)`: every
    * node with each id it reaches — min(r) is the component label. Needs
    * a `WITH RECURSIVE` chain. */
  private val pairReachCtes =
    """edges AS MATERIALIZED (SELECT va AS a, vb AS b FROM p
                   UNION ALL SELECT vb, va FROM p),
         reach AS (
           SELECT DISTINCT a AS id, a AS r FROM edges
           UNION
           SELECT e2.a AS id, reach.r FROM edges e2 JOIN reach ON e2.b = reach.id)"""

  /** DuckDB oracle twin for [[semdedupKeep]] over a verified pair CTE
    * `p(va, vb, cos)`: components, per-member summed centrality, and the
    * query's final SELECT of the kept member per cluster. */
  private val semdedupKeepSql =
    s"""$pairReachCtes,
         cl AS (SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY 1),
         directed AS (SELECT va AS vec_id, cos FROM p
                      UNION ALL SELECT vb, cos FROM p),
         st AS (SELECT vec_id,
                       CAST(sum(CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
                         AS centrality_micro
                FROM directed GROUP BY 1),
         m AS (SELECT cl.cluster_id, cl.vec_id, st.centrality_micro
               FROM cl JOIN st USING (vec_id)),
         rk AS (SELECT cluster_id, vec_id, centrality_micro,
                       row_number() OVER (PARTITION BY cluster_id
                         ORDER BY centrality_micro DESC, vec_id DESC) AS rn,
                       count(*) OVER (PARTITION BY cluster_id) AS nm
                FROM m)
         SELECT cluster_id, CAST(nm AS BIGINT) AS n_members,
                vec_id AS keep_id, centrality_micro AS keep_centrality_micro
         FROM rk WHERE rn = 1 ORDER BY cluster_id"""

  /** Memoized connected components over the cosine near-dup graph —
    * q_dedup_embed_clusters and q_dedup_semdedup_keep run the identical
    * min-label propagation, so they share one materialization. */
  private def embedClusterTable(s: SparkSession, d: String): DataFrame =
    QueryCaches.memo(s, d, "embed_cluster_table") {
      Dedup.duplicateClusters(
        SimilarityQueries.lshPairTable(s, d).where(col("cos") >= 0.4),
        col("va"), col("vb"))
    }

  // ------------------------------------------------------------- oracles

  /** Shared CTE prefix: normalized tokens + distinct 3-gram shingles,
    * mirroring TextFunctions.normalized/tokens + Dedup.shingles. */
  private val shCte =
    s"""WITH n AS (
         SELECT doc_id, ${sqlTokens(sqlNormalized("text"))} AS toks
         FROM documents),
       sh AS (
         SELECT doc_id,
                list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(0, len(toks) - 2),
                         i -> array_to_string(toks[i+1:i+3], ' ')) END) AS shingles
         FROM n)"""

  private val sigCte =
    """sig AS (
         SELECT doc_id,
                [list_min(list_transform(shingles,
                   s -> md5(CAST(k AS VARCHAR) || ':' || s))) for k in range(0, 8)] AS sig
         FROM sh)"""

  /** LSH band buckets `bands(doc_id, b, bh)` over `sig`: the twin of
    * Dedup.lshBands at BANDS bands of R rows. */
  private val bandsCte =
    s"""bands AS (
          SELECT doc_id, b, ${Dedup.sqlLshBandHash("sig", R)} AS bh
          FROM sig, range(0, $BANDS) t(b))"""

  /** [[bandsCte]] + `cand(ida, idb)`: the pairs sharing any band bucket,
    * the twin of Dedup.lshCandidates. */
  private val minhashCandCte =
    s"""$bandsCte,
        cand AS (
          SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
          FROM bands a JOIN bands b
            ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id)"""

  /** `hsh(doc_id, hs)`: the twin of [[dedupHashes]]. */
  private val hshCte =
    s"""hsh AS (
          SELECT doc_id, ${Dedup.sqlShingleHashes("shingles")} AS hs
          FROM sh)"""

  /** `cand(ida, idb)` through the df-capped inverted index over `hsh`: the
    * twin of the candidate stage ngramJaccardPairs and containmentPairs run
    * at [[maxDf]] (the `keep` cap is maxDf's formula). */
  private val dfCappedCandCte =
    """ex AS (SELECT doc_id, unnest(hs) AS h FROM hsh),
          keep AS (SELECT h FROM ex GROUP BY h HAVING count(*) <= greatest(8, (SELECT count(*) FROM documents) // 500)),
          kx AS (SELECT ex.doc_id, ex.h FROM ex JOIN keep USING (h)),
          cand AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
            FROM kx a JOIN kx b ON a.h = b.h AND a.doc_id < b.doc_id)"""

  /** `p(ida, idb)`: the `cand` pairs whose shingle-set Jaccard is ≥ 0.8 —
    * the twin of [[minhashPairs]]' verify step. */
  private val jacPairsCte =
    s"""p AS (
          SELECT ida, idb
          FROM cand JOIN sh x ON x.doc_id = ida JOIN sh y ON y.doc_id = idb
          WHERE ${Dedup.sqlJaccard("x.shingles", "y.shingles")} >= 0.8)"""

  /** Shared recursive chain: LSH candidates → Jaccard-verified pairs →
    * transitive closure → `cl(doc_id, cluster_id)` (min reachable id).
    * `private[queries]`: the cross-modal oracle (MultimodalQueries)
    * composes it with the image-cluster chain. */
  private[queries] val clustersCte =
    s"""${shCte.replaceFirst("WITH", "WITH RECURSIVE")},
        $sigCte,
        $minhashCandCte,
        $jacPairsCte,
        edges AS MATERIALIZED (SELECT ida AS a, idb AS b FROM p
                  UNION ALL SELECT idb, ida FROM p),
        reach AS (
          SELECT DISTINCT a AS id, a AS r FROM edges
          UNION
          SELECT e.a AS id, reach.r FROM edges e JOIN reach ON e.b = reach.id),
        cl AS (SELECT id AS doc_id, min(r) AS cluster_id
               FROM reach GROUP BY 1)"""

  private val simhashCte =
    """f AS (SELECT doc_id, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS h
             FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
       bits AS (
         SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
         FROM f, range(0, 60) t(b) GROUP BY 1, 2),
       simhash AS (
         SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0::BIGINT END) AS BIGINT) AS sh
         FROM bits GROUP BY 1)"""

  /** q_dedup_clusters' oracle, shared verbatim by q_dedup_clusters_star
    * (the star-algorithm variant computes the identical component table):
    * same candidate+verify chain as q_dedup_minhash_lsh, then transitive
    * closure over the symmetric pair edges — cluster id = min reachable id. */
  private val clustersSql =
    s"""$clustersCte
          SELECT doc_id, cluster_id FROM cl ORDER BY doc_id"""

  val registry: Seq[Q] = Seq(
    // exact dedup: hash-groupBy on the canonical md5 fingerprint
    Q("q_dedup_exact", (s, d) =>
      Dedup.exactGroups(docs(s, d), col("doc_id"), col("text")).orderBy("keep_id"),
      s"""WITH n AS (SELECT doc_id, ${sqlNormalized("text")} AS norm
                    FROM documents)
         SELECT md5(norm) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
         FROM n GROUP BY 1 ORDER BY keep_id"""),

    // MinHash + LSH banding → candidate pairs → exact-Jaccard verify
    Q("q_dedup_minhash_lsh", (s, d) =>
      minhashPairs(s, d).orderBy("ida", "idb"),
      s"""$shCte,
          $sigCte,
          $minhashCandCte,
          j AS (
            SELECT ida, idb,
                   CAST(len(list_filter(range(0, 8),
                     i -> sa.sig[i+1] = sb.sig[i+1])) AS BIGINT) AS sig_matches,
                   ${Dedup.sqlJaccard("x.shingles", "y.shingles")} AS jac
            FROM cand
            JOIN sig sa ON sa.doc_id = ida JOIN sig sb ON sb.doc_id = idb
            JOIN sh x ON x.doc_id = ida JOIN sh y ON y.doc_id = idb)
          SELECT ida, idb, sig_matches, jac FROM j
          WHERE jac >= 0.8 ORDER BY ida, idb"""),

    // pair graph → connected components: the "keep one per cluster" step;
    // iterative min-label propagation, oracle = DuckDB recursive CTE
    Q("q_dedup_clusters", (s, d) =>
      textClusterTable(s, d).orderBy("doc_id"),
      clustersSql),

    // n-gram Jaccard via inverted-index join with a document-frequency
    // cutoff on the candidate stage (df <= maxDf, corpus-relative): hot
    // stop-shingles cannot
    // blow the self-join up to C(df, 2) pairs each; exact full-set Jaccard
    // verifies every candidate, so emitted values are unfiltered
    Q("q_dedup_ngram_jaccard", (s, d) => {
      val sh = dedupHashes(s, d)
      Dedup.ngramJaccardPairs(sh, col("doc_id"), col("hs"),
          minJaccard = 0.8, maxDf = maxDf(s, d))
        .orderBy("ida", "idb")
    },
      s"""$shCte,
          $hshCte,
          $dfCappedCandCte,
          j AS (
            SELECT ida, idb,
                   CAST(len(list_intersect(x.hs, y.hs)) AS BIGINT) AS shared,
                   ${Dedup.sqlJaccard("x.hs", "y.hs")} AS jac
            FROM cand JOIN hsh x ON x.doc_id = ida JOIN hsh y ON y.doc_id = idb)
          SELECT ida, idb, shared, jac FROM j
          WHERE jac >= 0.8 ORDER BY ida, idb"""),

    // threshold calibration: candidate-pair counts per Jaccard decile
    // (integer bucket shared·10 DIV union — no float in the bucketing) —
    // the sweep run before committing a dedup threshold, riding the same
    // cached hash arrays and candidate chain as the jaccard query
    Q("q_dedup_threshold_sweep", (s, d) => {
      val sh = dedupHashes(s, d)
      val sizes = sh.select(col("doc_id"), size(col("hs")).cast("long").as("n"))
      Dedup.ngramJaccardPairs(sh, col("doc_id"), col("hs"),
          minJaccard = 0.5, maxDf = maxDf(s, d))
        .join(sizes.select(col("doc_id").as("ida"), col("n").as("na")), "ida")
        .join(sizes.select(col("doc_id").as("idb"), col("n").as("nb")), "idb")
        .select(expr("shared * 10 DIV (na + nb - shared)").as("jac_decile"))
        .groupBy(col("jac_decile"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("jac_decile")
    },
      s"""$shCte,
          $hshCte,
          $dfCappedCandCte,
          j AS (
            SELECT ida, idb,
                   CAST(len(list_intersect(x.hs, y.hs)) AS BIGINT) AS shared,
                   CAST(len(x.hs) AS BIGINT) AS na,
                   CAST(len(y.hs) AS BIGINT) AS nb,
                   ${Dedup.sqlJaccard("x.hs", "y.hs")} AS jac
            FROM cand JOIN hsh x ON x.doc_id = ida JOIN hsh y ON y.doc_id = idb)
          SELECT CAST(shared * 10 // (na + nb - shared) AS BIGINT) AS jac_decile,
                 CAST(count(*) AS BIGINT) AS n_pairs
          FROM j WHERE jac >= 0.5
          GROUP BY 1 ORDER BY jac_decile"""),

    // near-subset pairs: containment of the smaller shingle set —
    // jaccard misses a paragraph quoted inside a much longer doc;
    // containment ≈ 1 flags it. Shares the cached hash arrays and the
    // df-capped candidate index with the jaccard path
    Q("q_dedup_containment", (s, d) => {
      val sh = dedupHashes(s, d)
      Dedup.containmentPairs(sh, col("doc_id"), col("hs"),
          minContainment = 0.9, maxDf = maxDf(s, d))
        .orderBy("ida", "idb")
    },
      s"""$shCte,
          $hshCte,
          $dfCappedCandCte,
          c AS (
            SELECT ida, idb,
                   CAST(len(list_intersect(x.hs, y.hs)) AS BIGINT) AS shared,
                   CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
                     / CAST(least(len(x.hs), len(y.hs)) AS DOUBLE) AS cont
            FROM cand JOIN hsh x ON x.doc_id = ida JOIN hsh y ON y.doc_id = idb)
          SELECT ida, idb, shared, cont FROM c
          WHERE cont >= 0.9 ORDER BY ida, idb"""),

    // AllPairs/PPJoin prefix filtering: candidates ONLY from the
    // df-ascending prefix of each shingle set (rarest hashes), exact
    // integer Jaccard verify. The oracle computes the UNFILTERED join —
    // every pair sharing any hash — so gate equality is a cross-engine
    // proof the prefix prune is lossless at J ≥ 0.8.
    //
    // Corpus-adaptive proof stratum (closes the one remaining scale-gate
    // skip, r10 verdict #5): below PrefixProofCap documents the proof is
    // the FULL unfiltered join (gate SFs — bitwise identical to the
    // pre-r11 row); above it, both sides restrict to pairs TOUCHING the
    // md5-mod-m sample (m = largest power of 2 ≤ n/250, the
    // ann_recall_sampled modulus — ~250–500 sampled docs at any corpus
    // size), so the oracle's unfiltered join is Θ((k/n)·Σdf²) instead of
    // Θ(Σdf²) and the losslessness proof gates at EVERY SF on a fixed-
    // size stratum instead of skipping. Both engines derive the branch
    // and the modulus from count(*) — the maxDf pattern.
    Q("q_dedup_prefix_filter", (s, d) => {
      val sh = dedupHashes(s, d)
      val pairs =
        Dedup.prefixFilterPairs(sh, col("doc_id"), col("hs"), minJaccard = 0.8)
      prefixProofStratum(pairs, docCount(s, d), PrefixProofCap)
        .orderBy("ida", "idb")
    },
      // deliberately UNFILTERED: all pairs sharing any hash, exact integer
      // Jaccard test — equality with the prefix-filtered engine result is
      // the losslessness proof (9·shared ≥ 4·(na+nb) ⟺ J ≥ 0.8 exactly).
      // Corpus-adaptive stratum (engine twin at the query): at
      // n ≤ PrefixProofCap the sample side is ALL docs (exs = ex — the
      // original full proof, bitwise); above it only pairs touching the
      // md5-mod-m sample survive, and the sample predicate is pushed into
      // the join's LEFT side so the unfiltered join is Θ((k/n)·Σdf²), not
      // post-filtered quadratic. least/greatest normalization makes the
      // one-sided join emit the identical undirected distinct pair set.
      s"""$shCte,
          $hshCte,
          nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
          mm AS (SELECT n, CASE WHEN n // 250 = 0 THEN CAST(1 AS BIGINT)
                                ELSE (1::BIGINT << (length(bin(n // 250)) - 1))
                           END AS m FROM nn),
          ex AS (SELECT doc_id, unnest(hs) AS h FROM hsh),
          exs AS (SELECT doc_id, h FROM ex, mm
                  WHERE mm.n <= $PrefixProofCap
                     OR CAST('0x' || substr(md5('pfx:' || doc_id), 1, 13) AS BIGINT)
                        % mm.m = 0),
          cand AS (
            SELECT DISTINCT least(a.doc_id, b.doc_id) AS ida,
                   greatest(a.doc_id, b.doc_id) AS idb
            FROM exs a JOIN ex b ON a.h = b.h AND a.doc_id <> b.doc_id),
          j AS (
            SELECT ida, idb,
                   CAST(len(list_intersect(x.hs, y.hs)) AS BIGINT) AS shared,
                   CAST(len(x.hs) AS BIGINT) AS na,
                   CAST(len(y.hs) AS BIGINT) AS nb
            FROM cand JOIN hsh x ON x.doc_id = ida
                      JOIN hsh y ON y.doc_id = idb)
          SELECT ida, idb, shared, na, nb FROM j
          WHERE 9 * shared >= 4 * (na + nb) ORDER BY ida, idb"""),

    // SimHash signatures (per-bit majority vote over shingle hashes)
    Q("q_dedup_simhash_sig", (s, d) =>
      simhashSig(s, d)
        .select(col("id").as("doc_id"), col("simhash"))
        .orderBy("doc_id"),
      s"""$shCte,
          $simhashCte
          SELECT doc_id, sh AS simhash FROM simhash ORDER BY doc_id"""),

    // SimHash near-dup pairs: 6-bit chunk banding + bit_count verify
    Q("q_dedup_simhash_pairs", (s, d) =>
      Dedup.simhashPairs(simhashSig(s, d), 8)
        .orderBy("ida", "idb"),
      s"""$shCte,
          $simhashCte,
          chunks AS (
            SELECT doc_id, sh, c, (sh >> (6*c)) & 63 AS v
            FROM simhash, range(0, 10) t(c)),
          cand AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
                   a.sh AS sha, b.sh AS shb
            FROM chunks a JOIN chunks b
              ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
          SELECT ida, idb, CAST(bit_count(xor(sha, shb)) AS BIGINT) AS ham
          FROM cand WHERE bit_count(xor(sha, shb)) <= 8
          ORDER BY ida, idb"""),

    // embedding-cosine near-dup: sign-LSH bands + exact cosine verify
    // (cached — q_sim_ann_topk shares the identical pair table)
    Q("q_dedup_embed_cosine", (s, d) =>
      SimilarityQueries.lshPairTable(s, d)
        .where(col("cos") >= 0.4)
        .orderBy("va", "vb"),
      s"""WITH ${SimilarityQueries.lshCandCte},
         cos AS (
           SELECT va, vb,
             ${Similarity.sqlCosine("x.v", "y.v")} AS cos
           FROM cand JOIN e x ON x.vec_id = va JOIN e y ON y.vec_id = vb)
         SELECT va, vb, cos FROM cos WHERE cos >= 0.4 ORDER BY va, vb"""),

    // SemDeDup-style embedding dedup: connected components over the
    // cosine near-dup graph (cached sign-LSH pairs) — "keep one per
    // semantic cluster" for embedded corpora (cluster table memoized:
    // q_dedup_semdedup_keep consumes the identical propagation)
    Q("q_dedup_embed_clusters", (s, d) =>
      embedClusterTable(s, d)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id"),
      s"""WITH RECURSIVE ${SimilarityQueries.lshCandCte},
         cosp AS (
           SELECT va, vb,
             ${Similarity.sqlCosine("x.v", "y.v")} AS cos
           FROM cand JOIN e x ON x.vec_id = va JOIN e y ON y.vec_id = vb),
         p AS (SELECT va, vb FROM cosp WHERE cos >= 0.4),
         $pairReachCtes
         SELECT id AS vec_id, min(r) AS cluster_id
         FROM reach GROUP BY 1 ORDER BY 1"""),

    // incremental dedup: LSH candidates BETWEEN an incoming batch (odd
    // doc_ids) and the ingested catalog (even doc_ids) — never the
    // catalog×catalog quadrant — then exact-Jaccard verified
    Q("q_dedup_incremental", (s, d) => {
      val sig = withSig(s, d)
      val cand = Dedup.lshCandidatesAcross(
        sig.where(col("doc_id") % 2 === 1), sig.where(col("doc_id") % 2 === 0),
        col("doc_id"), col("sig"), BANDS, R)
      cand
        .join(sig.select(col("doc_id").as("ida"), col("shingles").as("xa")), "ida")
        .join(sig.select(col("doc_id").as("idb"), col("shingles").as("xb")), "idb")
        .withColumn("jac", Dedup.jaccard(col("xa"), col("xb")))
        .where(col("jac") >= 0.8)
        .select("ida", "idb", "jac")
        .orderBy("ida", "idb")
    },
      s"""$shCte,
          $sigCte,
          $bandsCte,
          cand AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
            FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh
            WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0)
          SELECT ida, idb,
                 ${Dedup.sqlJaccard("x.shingles", "y.shingles")} AS jac
          FROM cand
          JOIN sh x ON x.doc_id = ida JOIN sh y ON y.doc_id = idb
          WHERE ${Dedup.sqlJaccard("x.shingles", "y.shingles")} >= 0.8
          ORDER BY ida, idb"""),

    // same component semantics through the alternating large-star /
    // small-star algorithm (O(log² n) rounds on component diameter vs
    // propagation's O(diameter) — the 100 TB chain-collapse path);
    // shares the recursive-CTE oracle with q_dedup_clusters
    Q("q_dedup_clusters_star", (s, d) =>
      graft.operators.StarComponents.components(
          minhashPairs(s, d), col("ida"), col("idb"))
        .orderBy("doc_id"),
      clustersSql),

    // ANN-backed semantic dedup, gated like q_dedup_prefix_filter: the
    // engine runs the scalable chain (radius-2 sign-LSH candidates →
    // exact-cosine verify ≥ 0.45 → star components → keep most-central)
    // while the ORACLE computes the deliberately-UNFILTERED quadratic
    // join — gate equality is a cross-engine proof the ANN candidate
    // stage lost no qualifying pair at fixture scale.
    //
    // Candidate-recall bound (the reason radius 2 + τ = 0.45): per-band
    // hit probability with multiprobe radius 2 is Σ_{k≤2} C(8,k)·p^{8−k}
    // q^k with p = 1 − acos(τ)/π (= 0.649 at τ = 0.45, q = 1−p), giving
    // per-pair miss probability (1 − 0.424)^16 ≈ 1.5e-4 AT the threshold
    // (pairs above it are exponentially safer). Measured: radius-2
    // candidates cover every exact pair down to cos ≥ 0.42 at BOTH gate
    // SFs (sf0.01: 34/34, sf0.1: 441/441); at τ = 0.45 the expected miss
    // count is ≈ 0.02 across the sf0.1 fixture's 144 qualifying pairs.
    // Radius 1 at the production cos ≥ 0.4 point misses 59/920 at sf0.1
    // — quantified per cosine band by q_dedup_ann_recall below. sf1+:
    // oracle is quadratic by design → documented SKIP (prefix_filter
    // precedent).
    Q("q_dedup_semdedup_ann", (s, d) =>
      starKeep(annPairsR2(s, d)), // already verified at cos >= 0.45
      // deliberately UNFILTERED quadratic cosine join (NO LSH chain): every
      // pair with cos >= 0.45, then the identical components/centrality/keep
      // replay — equality with the engine's radius-2-LSH-candidate result
      // is the losslessness proof (bound derivation at the engine query)
      s"""WITH RECURSIVE
         ${sqlEmbeddings()},
         exact AS MATERIALIZED (
           SELECT x.vec_id AS va, y.vec_id AS vb,
             ${Similarity.sqlCosine("x.v", "y.v")} AS cos
           FROM e x JOIN e y ON x.vec_id < y.vec_id),
         p AS MATERIALIZED (SELECT va, vb, cos FROM exact WHERE cos >= 0.45),
         $semdedupKeepSql"""),

    // The same SemDeDup chain at the PRODUCTION geometry (w12 b32 radius
    // 2 — the operating point SCALING_sf1.md's round-10 A/B measured and
    // recommends: occupancy-flat width, recall bought back with bands).
    // Unlike the fixture row above, the ORACLE here replays the IDENTICAL
    // LSH geometry (Rademacher planes, bucket cap, symmetric radius-2
    // probe join) rather than the unfiltered quadratic join: w12 b32 is
    // 99.92%-recall approximate BY DESIGN at saturated domains (80/104,217
    // pairs missed at sf1mut), so the gate pins the configured chain
    // bitwise at EVERY SF instead of asserting a losslessness that only
    // holds at fixture scale. The quadratic-oracle losslessness proof
    // stays the fixture row's job.
    Q("q_dedup_semdedup_ann_prod", (s, d) =>
      starKeep(annPairsProd(s, d)),
      // production geometry: the oracle replays the w12 b32 radius-2 LSH
      // chain ITSELF (symmetric probe join — the engine's radius-2 form),
      // then the identical verify/components/centrality/keep replay — the
      // recommended configuration is hash-gated bitwise at every SF, with
      // no losslessness assumption
      s"""WITH RECURSIVE ${SimilarityQueries.lshCandCteFor(
             SimilarityQueries.LshSeed, ProdLshBands, ProdLshWidth,
             SimilarityQueries.LshMaxBucket, radius = 2)},
         cos AS (
           SELECT va, vb,
             ${Similarity.sqlCosine("x.v", "y.v")} AS cos
           FROM cand JOIN e x ON x.vec_id = va JOIN e y ON y.vec_id = vb),
         p AS MATERIALIZED (SELECT va, vb, cos FROM cos WHERE cos >= 0.45),
         $semdedupKeepSql"""),

    // Semantic decontamination (r10 verdict #7): eval-set leakage by
    // near-PARAPHRASE — the gap n-gram-overlap decontamination
    // (q_text_decontaminate) cannot see. The benchmark side is a
    // corpus-derived md5-mod-m sample (~250–500 vectors at any corpus
    // size — standing in for the real eval set, which is tiny and
    // broadcast by construction); a corpus document is contaminated when
    // its embedding is within cos ≥ 0.6 of any benchmark vector. The
    // engine reuses the MEMOIZED radius-2 sign-LSH chain (annPairsR2 —
    // zero new LSH builds) and keeps pairs with exactly one benchmark
    // endpoint; the ORACLE is the deliberately-unfiltered exact
    // benchmark × corpus join — Θ(k·n), linear at every SF because the
    // left side is fixed-size (the ann_recall_sampled shape), so gate
    // equality is a cross-engine losslessness proof of the candidate
    // stage at τ = 0.45 — the exact regime the radius-2 chain is
    // MEASURED lossless in (semdedup gate: every exact pair covered
    // down to cos ≥ 0.42 at both gate SFs; 104,217/104,217 at sf1mut),
    // with the analytic per-pair miss bound 1.5e-4 at the threshold.
    // (The fixture's pair cosines top out near 0.52, so a stricter τ
    // would be vacuous — contamination here IS the ~0.45 near-dup band.)
    Q("q_text_decontam_semantic", (s, d) => {
      val m = math.max(1L, java.lang.Long.highestOneBit(vecCount(s, d) / 250L))
      def isBench(c: Column) =
        conv(substring(md5(concat(lit("decon:"), c)), 1, 13), 16, 10)
          .cast("long") % m === 0
      val pairs = annPairsR2(s, d) // verified exact cos, >= 0.45
      val dir = pairs.select(col("va").as("x"), col("vb").as("y"), col("cos"))
        .unionByName(
          pairs.select(col("vb").as("x"), col("va").as("y"), col("cos")))
      dir.where(isBench(col("x")) && !isBench(col("y")) &&
          col("cos") >= 0.45)
        .withColumn("cm", floor(col("cos") * 1000000.0 + 0.5).cast("long"))
        .groupBy(col("y").as("vec_id"))
        .agg(count(lit(1)).as("n_bench_hits"),
          max(struct(col("cm"), col("x"))).as("mx"))
        .select(col("vec_id"), col("n_bench_hits"),
          col("mx.x").as("top_bench_id"), col("mx.cm").as("top_cos_micro"))
        .orderBy("vec_id")
    },
      // deliberately UNFILTERED exact benchmark × corpus join (no LSH):
      // fixed-size left side ⇒ Θ(k·n) at every SF; equality with the
      // radius-2-candidate engine result is the candidate-stage
      // losslessness proof at τ = 0.45 (bound at the engine query)
      s"""WITH ${sqlEmbeddings()},
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         mm AS (SELECT CASE WHEN n // 250 = 0 THEN CAST(1 AS BIGINT)
                            ELSE (1::BIGINT << (length(bin(n // 250)) - 1))
                       END AS m FROM nn),
         b AS (SELECT vec_id, v FROM e, mm
               WHERE CAST('0x' || substr(md5('decon:' || vec_id), 1, 13) AS BIGINT)
                     % mm.m = 0),
         c AS (SELECT vec_id, v FROM e, mm
               WHERE CAST('0x' || substr(md5('decon:' || vec_id), 1, 13) AS BIGINT)
                     % mm.m <> 0),
         j AS (SELECT b.vec_id AS bid, c.vec_id AS cid,
                      ${Similarity.sqlCosine("b.v", "c.v")} AS cos
               FROM b, c),
         h AS (SELECT cid, bid,
                      CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS cm
               FROM j WHERE cos >= 0.45),
         r AS (SELECT cid, bid, cm,
                      row_number() OVER (PARTITION BY cid
                        ORDER BY cm DESC, bid DESC) AS rn,
                      count(*) OVER (PARTITION BY cid) AS nb
               FROM h)
         SELECT cid AS vec_id, CAST(nb AS BIGINT) AS n_bench_hits,
                bid AS top_bench_id, cm AS top_cos_micro
         FROM r WHERE rn = 1 ORDER BY vec_id"""),

    // ANN candidate-recall audit at the PRODUCTION operating point
    // (radius 1, the pair table every embedding query shares): exact
    // bounded all-pairs join vs the LSH candidate set, per 0.05 cosine
    // band — the committed, cross-engine-verified measurement of what
    // the approximation trades (at sf0.1: 59/920 pairs missed at
    // cos ≥ 0.4, zero above 0.55). The exact side is quadratic BY DESIGN
    // (this is the recall-proof query class): fine at gate SFs, SKIP at
    // sf1 like prefix_filter's unfiltered oracle. At 100 TB recall is
    // instead estimated on a sampled stratum — same query, sampled left
    // side.
    Q("q_dedup_ann_recall", (s, d) => {
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", Similarity.l2norm(col("v")))
      val exact = v.select(col("vec_id").as("va"), col("v").as("xa"),
          col("nrm").as("na"))
        .join(v.select(col("vec_id").as("vb"), col("v").as("xb"),
          col("nrm").as("nb")), col("va") < col("vb"))
        .withColumn("cos",
          Similarity.dot(col("xa"), col("xb")) / (col("na") * col("nb")))
        .where(col("cos") >= 0.4)
        .select("va", "vb", "cos")
      val cand = SimilarityQueries.lshPairTable(s, d)
        .select(col("va"), col("vb")).withColumn("found", lit(1L))
      exact.join(cand, Seq("va", "vb"), "left")
        .groupBy(floor(col("cos") * 20).cast("long").as("band_x20"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("found"), lit(0L))).as("n_found"),
          (count(lit(1)) - sum(coalesce(col("found"), lit(0L))))
            .as("n_missed"))
        .orderBy("band_x20")
    },
      // exact quadratic join vs the radius-1 candidate chain, per cosine band
      s"""WITH ${SimilarityQueries.lshCandCte},
         exact AS MATERIALIZED (
           SELECT x.vec_id AS va, y.vec_id AS vb,
             ${Similarity.sqlCosine("x.v", "y.v")} AS cos
           FROM e x JOIN e y ON x.vec_id < y.vec_id),
         ex AS (SELECT va, vb, cos FROM exact WHERE cos >= 0.4),
         j AS (SELECT ex.cos,
                      CASE WHEN c.va IS NULL THEN 0 ELSE 1 END AS found
               FROM ex LEFT JOIN cand c ON c.va = ex.va AND c.vb = ex.vb)
         SELECT CAST(floor(cos * 20) AS BIGINT) AS band_x20,
                CAST(count(*) AS BIGINT) AS n_exact,
                CAST(sum(found) AS BIGINT) AS n_found,
                CAST(count(*) - sum(found) AS BIGINT) AS n_missed
         FROM j GROUP BY 1 ORDER BY band_x20"""),

    // Scale-safe recall audit — the 100 TB shape of q_dedup_ann_recall
    // (implementing the sampled-stratum estimate that row's comment
    // promised): the exact side samples the QUERY side by content hash
    // (md5("recall:" || vec_id) mod m — layout- and partitioning-
    // independent, mirrored bitwise by the oracle) and exact-joins ONLY
    // the sample against the corpus. m is NOT a fixed rate: it is the
    // largest power of 2 ≤ n/250 (n = corpus count, the maxDf pattern —
    // a metadata-cheap eager count inlined as a literal; the oracle
    // derives the identical m from count(*) via length(bin(x))−1, the
    // integer log2 both engines share). A corpus-derived modulus keeps
    // the SAMPLE roughly fixed at 250–500 queries at every corpus size,
    // so exact work is Θ(k·n) — genuinely linear, the fixed-size-left
    // shape a 100 TB recall audit runs — instead of the Θ(n²/m) a fixed
    // rate degrades to. Per 0.05 cosine band: directed (query, neighbor)
    // pair counts, hits against the SAME shared radius-1 candidate table
    // every embedding query uses, recall in ppm, and a 95% Wilson score
    // interval on per-band recall — the binomial CI that turns the
    // sampled estimate into a bounded claim. The Wilson tree is written
    // as the identical fixed-order IEEE expression in both engines (sqrt
    // is correctly rounded), so the micro-quantized bounds are bitwise.
    // Unlike q_dedup_ann_recall (quadratic BY DESIGN → documented SKIP at
    // sf1+), this row gates at EVERY SF.
    Q("q_dedup_ann_recall_sampled", (s, d) => {
      val m = math.max(1L, java.lang.Long.highestOneBit(vecCount(s, d) / 250L))
      val v = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", Similarity.l2norm(col("v")))
      val q = v.where(
        conv(substring(md5(concat(lit("recall:"), col("vec_id"))), 1, 13), 16, 10)
          .cast("long") % m === 0)
        .select(col("vec_id").as("qa"), col("v").as("xa"), col("nrm").as("na"))
      val exact = broadcast(q)
        .join(v.select(col("vec_id").as("vb"), col("v").as("xb"),
          col("nrm").as("nb")), col("qa") =!= col("vb"))
        .withColumn("cos",
          Similarity.dot(col("xa"), col("xb")) / (col("na") * col("nb")))
        .where(col("cos") >= 0.4)
        .select(col("qa"), col("vb"), col("cos"))
      val cand = SimilarityQueries.lshPairTable(s, d)
        .select(col("va").as("ca"), col("vb").as("cb"))
        .withColumn("found", lit(1L))
      // 95% Wilson score interval, micro-quantized; identical op order in
      // the oracle (z and every literal CAST AS DOUBLE there)
      val z = lit(1.96)
      val zz = z * z
      val nD = col("n_exact").cast("double")
      val p = col("n_found").cast("double") / nD
      val den = lit(1.0) + zz / nD
      val ctr = (p + zz / (lit(2.0) * nD)) / den
      val half = (z * sqrt((p * (lit(1.0) - p) / nD) +
        zz / (lit(4.0) * (nD * nD)))) / den
      exact
        .withColumn("ca", least(col("qa"), col("vb")))
        .withColumn("cb", greatest(col("qa"), col("vb")))
        .join(cand, Seq("ca", "cb"), "left")
        .groupBy(floor(col("cos") * 20).cast("long").as("band_x20"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("found"), lit(0L))).as("n_found"))
        .withColumn("recall_ppm", expr("n_found * 1000000 DIV n_exact"))
        .withColumn("wilson_lo_micro",
          floor((ctr - half) * 1000000.0 + 0.5).cast("long"))
        .withColumn("wilson_hi_micro",
          floor((ctr + half) * 1000000.0 + 0.5).cast("long"))
        .orderBy("band_x20")
    },
      // sampled-left-side recall estimate: the md5-mod-m query sample with
      // m = largest power of 2 <= count(*)/250 (length(bin(x))-1 is the
      // shared integer log2 — the engine inlines the same value computed
      // from its eager count), exact join only sample × corpus, Wilson CI
      // with every literal CAST AS DOUBLE so the IEEE tree matches the
      // Column API's double tree
      s"""WITH ${SimilarityQueries.lshCandCte},
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         mm AS (SELECT CASE WHEN n // 250 = 0 THEN CAST(1 AS BIGINT)
                            ELSE (1::BIGINT << (length(bin(n // 250)) - 1))
                       END AS m FROM nn),
         q AS (SELECT vec_id, v FROM e, mm
               WHERE CAST('0x' || substr(md5('recall:' || vec_id), 1, 13) AS BIGINT) % mm.m = 0),
         ex AS (SELECT q.vec_id AS qa, y.vec_id AS vb,
                  ${Similarity.sqlCosine("q.v", "y.v")} AS cos
                FROM q JOIN e y ON q.vec_id <> y.vec_id),
         exf AS (SELECT qa, vb, cos FROM ex WHERE cos >= 0.4),
         j AS (SELECT exf.cos,
                      CASE WHEN c.va IS NULL THEN 0 ELSE 1 END AS found
               FROM exf LEFT JOIN cand c
                 ON c.va = least(exf.qa, exf.vb)
                AND c.vb = greatest(exf.qa, exf.vb)),
         g AS (SELECT CAST(floor(cos * 20) AS BIGINT) AS band_x20,
                      CAST(count(*) AS BIGINT) AS n_exact,
                      CAST(sum(found) AS BIGINT) AS n_found
               FROM j GROUP BY 1),
         w AS (SELECT band_x20, n_exact, n_found,
                      CAST(n_found AS DOUBLE) / CAST(n_exact AS DOUBLE) AS p,
                      CAST(n_exact AS DOUBLE) AS nd,
                      CAST(1.96 AS DOUBLE) AS z,
                      CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS zz
               FROM g),
         w2 AS (SELECT *,
                       CAST(1.0 AS DOUBLE) + zz / nd AS den,
                       (p + zz / (CAST(2.0 AS DOUBLE) * nd))
                         / (CAST(1.0 AS DOUBLE) + zz / nd) AS ctr,
                       (z * sqrt((p * (CAST(1.0 AS DOUBLE) - p) / nd)
                          + zz / (CAST(4.0 AS DOUBLE) * (nd * nd))))
                         / (CAST(1.0 AS DOUBLE) + zz / nd) AS half
                FROM w)
         SELECT band_x20, n_exact, n_found,
                CAST(n_found * 1000000 // n_exact AS BIGINT) AS recall_ppm,
                CAST(floor((ctr - half) * 1000000.0 + 0.5) AS BIGINT)
                  AS wilson_lo_micro,
                CAST(floor((ctr + half) * 1000000.0 + 0.5) AS BIGINT)
                  AS wilson_hi_micro
         FROM w2 ORDER BY band_x20"""),

    // SemDeDup keep rule: within each embedding cluster keep the most
    // CENTRAL member — argmax of summed (micro-quantized) cosine to the
    // member's in-cluster neighbors, which for mean-centroid clusters is
    // the "closest to centroid" selection without materializing centroids.
    // Integer centrality sums keep the cross-engine contract float-free
    // past the audited per-pair quantization
    Q("q_dedup_semdedup_keep", (s, d) =>
      semdedupKeep(SimilarityQueries.lshPairTable(s, d).where(col("cos") >= 0.4),
        embedClusterTable(s, d)),
      s"""WITH RECURSIVE ${SimilarityQueries.lshCandCte},
         cosp AS (
           SELECT va, vb,
             ${Similarity.sqlCosine("x.v", "y.v")} AS cos
           FROM cand JOIN e x ON x.vec_id = va JOIN e y ON y.vec_id = vb),
         p AS MATERIALIZED (SELECT va, vb, cos FROM cosp WHERE cos >= 0.4),
         $semdedupKeepSql"""),

    // canonical-representative selection: for each near-dup cluster keep
    // the longest document (ties → highest doc_id) — the "keep one per
    // cluster" policy actually applied after clustering; single struct-max
    // aggregate, no window/self-join
    Q("q_dedup_keep_best", (s, d) => {
      // read the memoized cluster table (identical propagation) instead of
      // re-running the iterative min-label contraction per invocation —
      // same discipline as q_dedup_clusters (opt r13: 35 jobs → 3)
      val clusters = textClusterTable(s, d)
      clusters
        .join(docs(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          max(struct(col("n_chars"), col("doc_id"))).as("mx"))
        .select(col("cluster_id"), col("n_docs"),
          col("mx.doc_id").as("keep_id"), col("mx.n_chars").as("keep_chars"))
        .orderBy("cluster_id")
    },
      // clusters CTE chain as in q_dedup_clusters, then per-cluster argmax
      // by (n_chars, doc_id) — row_number mirror of Spark's struct-max
      s"""$clustersCte,
          m AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars
                FROM cl JOIN documents d USING (doc_id)),
          rk AS (SELECT cluster_id, doc_id, n_chars,
                        row_number() OVER (PARTITION BY cluster_id
                          ORDER BY n_chars DESC, doc_id DESC) AS rn,
                        count(*) OVER (PARTITION BY cluster_id) AS n_docs
                 FROM m)
          SELECT cluster_id, CAST(n_docs AS BIGINT) AS n_docs,
                 doc_id AS keep_id, n_chars AS keep_chars
          FROM rk WHERE rn = 1 ORDER BY cluster_id"""),

    // estimator quality audit: MinHash's Jaccard estimate (matching
    // signature components / K) against the exact shingle-set Jaccard for
    // every LSH candidate pair, both as exact integer ppm — the error
    // column quantifies what K=8 signatures buy, over the same candidate
    // generation the dedup path uses (no extra shuffles beyond it)
    Q("q_dedup_minhash_est", (s, d) => {
      lshCandSides(s, d)
        .withColumn("inter", size(array_intersect(col("xa"), col("xb"))).cast("long"))
        .withColumn("uni",
          size(col("xa")).cast("long") + size(col("xb")).cast("long") - col("inter"))
        .withColumn("sig_matches", sigMatches)
        .select(col("ida"), col("idb"),
          call_function("div", col("sig_matches") * 1000000L, lit(K.toLong))
            .as("est_ppm"),
          call_function("div", col("inter") * 1000000L, col("uni"))
            .as("exact_ppm"))
        .withColumn("err_ppm", abs(col("est_ppm") - col("exact_ppm")))
        .orderBy("ida", "idb")
    },
      // estimate-vs-exact in integer ppm over the identical candidate chain
      s"""$shCte,
          $sigCte,
          $minhashCandCte,
          j AS (
            SELECT ida, idb,
                   CAST(len(list_filter(range(0, 8),
                     i -> sa.sig[i+1] = sb.sig[i+1])) AS BIGINT) AS sig_matches,
                   CAST(len(list_intersect(x.shingles, y.shingles)) AS BIGINT)
                     AS inter,
                   CAST(len(x.shingles) + len(y.shingles)
                        - len(list_intersect(x.shingles, y.shingles)) AS BIGINT)
                     AS uni
            FROM cand
            JOIN sig sa ON sa.doc_id = ida JOIN sig sb ON sb.doc_id = idb
            JOIN sh x ON x.doc_id = ida JOIN sh y ON y.doc_id = idb)
          SELECT ida, idb,
                 sig_matches * 1000000 // 8 AS est_ppm,
                 inter * 1000000 // uni AS exact_ppm,
                 abs(sig_matches * 1000000 // 8 - inter * 1000000 // uni)
                   AS err_ppm
          FROM j ORDER BY ida, idb"""),

    // LSH banding precision diagnostic: candidate pairs the bands emit vs
    // pairs the exact-Jaccard verify keeps — the tuning read-out for
    // (bands, r): low precision means the verify stage burns compute on
    // false candidates, time to narrow the bands. Both counts come off
    // the SAME cached chain the dedup queries share; zero new heavy work
    Q("q_dedup_lsh_precision", (s, d) => {
      val cand = Dedup.lshCandidates(withSig(s, d), col("doc_id"), col("sig"),
        BANDS, R)
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(minhashPairs(s, d).agg(count(lit(1)).as("n_verified")))
        .select(col("n_candidates"), col("n_verified"),
          expr("n_verified * 1000000 DIV n_candidates").as("precision_ppm"))
    },
      s"""$shCte,
          $sigCte,
          $minhashCandCte,
          v AS (
            SELECT CAST(count(*) AS BIGINT) AS n_verified
            FROM cand
            JOIN sh x ON x.doc_id = ida JOIN sh y ON y.doc_id = idb
            WHERE ${Dedup.sqlJaccard("x.shingles", "y.shingles")} >= 0.8),
          c AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand)
          SELECT n_candidates, n_verified,
                 CAST(n_verified * 1000000 // n_candidates AS BIGINT)
                   AS precision_ppm
          FROM c, v"""),

    // dedup-softening weights: instead of deleting near-duplicates,
    // downweight each document by its family size (weight = 10⁶ div
    // |cluster|, singletons keep 10⁶) — the sampling-side alternative to
    // hard dedup that preserves rare-but-repeated content at reduced
    // mass. One left join of the corpus against the cached cluster table
    Q("q_dedup_soft_weights", (s, d) => {
      // memoized cluster table — see q_dedup_keep_best (opt r13)
      val fam = textClusterTable(s, d)
      val sizes = fam.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      docs(s, d).select(col("doc_id"))
        .join(fam.join(sizes, "cluster_id").select("doc_id", "sz"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("sz"), lit(1L)).as("family_size"))
        .withColumn("weight_ppm", expr("1000000 DIV family_size"))
        .orderBy("doc_id")
    },
      s"""$clustersCte,
          sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
                 FROM cl GROUP BY 1),
          w AS (SELECT d.doc_id,
                       CAST(COALESCE(sz.sz, 1) AS BIGINT) AS family_size
                FROM documents d
                LEFT JOIN cl ON cl.doc_id = d.doc_id
                LEFT JOIN sz ON sz.cluster_id = cl.cluster_id)
          SELECT doc_id, family_size,
                 CAST(1000000 // family_size AS BIGINT) AS weight_ppm
          FROM w ORDER BY doc_id"""),

    // duplicate-family size histogram: how much of the corpus is
    // duplicated how deeply — the dedup report that sizes the win before
    // anyone deletes anything. One rollup over the cached cluster table
    Q("q_dedup_cluster_sizes", (s, d) =>
      // memoized cluster table — see q_dedup_keep_best (opt r13)
      textClusterTable(s, d)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz"),
      s"""$clustersCte,
          sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
                 FROM cl GROUP BY 1)
          SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
          FROM sz GROUP BY 1 ORDER BY sz"""),

    // shingle-skew profile: the document-frequency histogram (log2
    // buckets) plus the hottest shingles — the measurement BEHIND the
    // df-cap discipline (a C(df,2) candidate blow-up hides in the tail
    // this query exposes). One aggregate over the cached shingle arrays
    Q("q_dedup_shingle_skew", (s, d) => {
      val df0 = withSig(s, d)
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
        .groupBy("sh").agg(count(lit(1)).as("df"))
      // log2 bucket via the binary-string length — pure integer (a libm
      // log2 at an exact power of two is not portably floor-safe)
      df0.groupBy((length(bin(col("df"))) - 1).cast("long").as("log2_df"))
        .agg(count(lit(1)).as("n_shingles"), max("df").as("max_df"))
        .orderBy("log2_df")
    },
      s"""$shCte,
          d AS (SELECT sh2 AS s2, CAST(count(*) AS BIGINT) AS df
                FROM (SELECT doc_id, unnest(shingles) AS sh2 FROM sh)
                GROUP BY 1)
          SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS log2_df,
                 CAST(count(*) AS BIGINT) AS n_shingles,
                 CAST(max(df) AS BIGINT) AS max_df
          FROM d GROUP BY 1 ORDER BY log2_df"""),

    // train/val/test leakage audit: verified near-dup pairs (the shared
    // MinHash chain) whose endpoints land in DIFFERENT deterministic
    // md5-bucket splits — the eval-integrity gate a training pipeline
    // runs after splitting (near-identical documents across train/test
    // inflate benchmarks exactly like decontamination misses). Reuses the
    // memoized pair table; the split map is a pure Column, so the audit
    // costs one bounded 3×3 aggregate on top of the dedup chain.
    Q("q_dedup_split_leakage", (s, d) => {
      def split(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val b = graft.text.TextFunctions.splitBucket(c)
        when(b < 80L, lit("train")).when(b < 90L, lit("val"))
          .otherwise(lit("test"))
      }
      minhashPairs(s, d)
        .select(split(col("ida")).as("sa0"), split(col("idb")).as("sb0"))
        .select(least(col("sa0"), col("sb0")).as("split_a"),
          greatest(col("sa0"), col("sb0")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaked",
          when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
        .orderBy(col("split_a"), col("split_b"))
    },
      s"""$shCte,
          $sigCte,
          $minhashCandCte,
          $jacPairsCte,
          sp AS (
            SELECT CASE WHEN CAST('0x' || substr(md5(CAST(ida AS VARCHAR)), 1, 4)
                          AS BIGINT) % 100 < 80 THEN 'train'
                        WHEN CAST('0x' || substr(md5(CAST(ida AS VARCHAR)), 1, 4)
                          AS BIGINT) % 100 < 90 THEN 'val'
                        ELSE 'test' END AS sa0,
                   CASE WHEN CAST('0x' || substr(md5(CAST(idb AS VARCHAR)), 1, 4)
                          AS BIGINT) % 100 < 80 THEN 'train'
                        WHEN CAST('0x' || substr(md5(CAST(idb AS VARCHAR)), 1, 4)
                          AS BIGINT) % 100 < 90 THEN 'val'
                        ELSE 'test' END AS sb0
            FROM p)
          SELECT least(sa0, sb0) AS split_a, greatest(sa0, sb0) AS split_b,
                 CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(CASE WHEN least(sa0, sb0) <> greatest(sa0, sb0)
                      THEN 1 ELSE 0 END AS BIGINT) AS leaked
          FROM sp GROUP BY 1, 2 ORDER BY 1, 2""")
  )
}
