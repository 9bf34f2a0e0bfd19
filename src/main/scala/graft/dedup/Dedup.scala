package graft.dedup

import graft.text.TextFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication operators for training-data pipelines (builder-prompt
  * extension surface; the reference has no dedup — SURVEY.md §2.3/§2.5 note
  * its only "combine" ops are file unions).
  *
  * Four families, each chosen for its 100 TB shape:
  *
  *   - **Exact**: hash-groupBy on a canonical fingerprint. One shuffle on
  *     the fingerprint; group sizes are bounded by duplication factor, so no
  *     skew beyond genuinely viral documents.
  *   - **MinHash + LSH**: per-doc signature (k salted-md5 minima over word
  *     shingles — embarrassingly parallel), then banding: docs sharing any
  *     band bucket become candidate pairs. The self-join shuffles on the
  *     band hash, NOT all pairs — O(candidates), not O(n²). Verification
  *     (true Jaccard) runs only on candidates.
  *   - **SimHash**: 60-bit signature via per-bit majority vote over feature
  *     hashes (one explode + one groupBy with 60 conditional sums — a single
  *     shuffle); near-dup pairs via 6-bit chunk banding (pigeonhole: any
  *     pair within Hamming ≤ 9 shares one of 10 chunks) + bit_count verify.
  *   - **Embedding cosine**: seeded random-hyperplane sign-LSH banding
  *     ([[graft.similarity.Similarity.signLshPairs]]), cosine verified
  *     only within buckets.
  *
  * Everything is Column algebra + relational joins — no UDFs, no driver
  * loops — so Catalyst sees every predicate and AQE can rebalance skewed
  * band buckets at runtime. Hashing uses md5 (bit-identical in DuckDB, so
  * every operator is oracle-verifiable end to end).
  */
object Dedup {

  // --------------------------------------------------------- shingling

  /** Distinct word n-gram shingles of the normalized text. Documents with
    * fewer than n tokens yield one shingle (the whole token run), never an
    * empty set.
    *
    * Implementation note: built by zip_with-ing the token array with its
    * own k-shifted slices (k = 1..n−1) — O(tokens) per document with no
    * per-element `slice` copies. The naive
    * `transform(sequence, i → array_join(slice(toks, i, n)))` form is
    * O(tokens²) in interpreted higher-order-function evaluation and
    * measured ~8× slower at sf0.1. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextFunctions.tokens(TextFunctions.normalized(text))
    val grams = (2 to n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k), greatest(size(toks) - (k - 1), lit(0))),
        (a, b) => concat_ws(" ", a, b))
    }
    // zip_with pads the shorter side with null and concat_ws drops nulls,
    // leaving short trailing grams — keep only the size-(n-1) full n-grams
    val full = slice(grams, lit(1), greatest(size(toks) - (n - 1), lit(1)))
    array_distinct(
      when(size(toks) < n, array(array_join(toks, " "))).otherwise(full))
  }

  /** 60-bit md5-derived hash per distinct shingle. Join-key compression
    * for the inverted-index path: the shingle equi-join shuffles 8-byte
    * longs instead of ~20-byte strings. Collisions (~n²/2^60) are
    * negligible and, because both engines derive the same hashes, the
    * DuckDB oracle sees the identical sets either way. */
  def shingleHashes(shingleCol: Column): Column =
    array_distinct(transform(shingleCol,
      s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")))

  /** DuckDB oracle twin for [[shingleHashes]] over a shingle list. */
  def sqlShingleHashes(shingles: String): String =
    s"""list_distinct(list_transform($shingles,
                     s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)))"""

  // ------------------------------------------------------ exact dedup

  /** Exact duplicate groups: one row per distinct fingerprint with the
    * surviving (minimum) id and the group size. Keep-policy = min id,
    * matching the stable "first wins" convention. */
  def exactGroups(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(TextFunctions.fingerprintMd5(textCol).as("fp"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  // --------------------------------------------------------- MinHash

  /** k-element MinHash signature over a shingle array: element i is the
    * minimum md5 of the salted shingle `"{i}:{shingle}"`. Salted full-width
    * hashes (not hash fragments) keep the k estimators independent. */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(shingleCol, s => md5(concat(lit(s"$i:"), s))))): _*)

  /** Per-band bucket hashes for LSH banding: band b hashes signature
    * elements [b·r, b·r+r). Returns an array of (band, bh) structs ready to
    * explode. */
  def lshBands(sig: Column, bands: Int, r: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat((0 until r).map(j => element_at(sig, b * r + j + 1)): _*)).as("bh"))
    }: _*)

  /** DuckDB oracle twin for [[lshBands]]' bucket hash: the md5 of band
    * `b` (a SQL column, 0-based) of the 1-based signature list `sig`. */
  def sqlLshBandHash(sig: String, r: Int): String =
    (1 to r).map(j => s"$sig[$r*b+$j]").mkString("md5(", " || ", ")")

  /** Candidate pairs from LSH banding: ids sharing any (band, bucket).
    * The join key is the band hash — this is the operator's scale story:
    * shuffle volume is O(docs·bands), and the pair blow-up is confined to
    * genuinely similar buckets (AQE skew-join splits any hot bucket). */
  def lshCandidates(df: DataFrame, idCol: Column, sigCol: Column,
                    bands: Int, r: Int): DataFrame = {
    // round-robin pin BEFORE the signature projection: minhash banks cost
    // k md5 calls per shingle per doc, and over a mono-split scan (or a
    // sub-minPartitionSize exchange that AQE coalesced to one task) that
    // work would run serial — see [[graft.operators.Fanout]]
    val e = graft.operators.Fanout.pin(df)
      .select(idCol.as("id"), explode(lshBands(sigCol, bands, r)).as("bd"))
      .select(col("id"), col("bd.band").as("band"), col("bd.bh").as("bh"))
    e.as("a").join(e.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"))
      .distinct()
  }

  /** Near-duplicate pairs by exact n-gram Jaccard, inverted-index candidate
    * stage guarded by a document-frequency cutoff (the standard stop-shingle
    * filter for index-based similarity joins).
    *
    * Scale story: the naive inverted-index self-join pays C(df, 2) pairs per
    * shingle — O(Σ df²), quadratic in the hottest shingle. Shingles with
    * df > maxDf carry no discriminative signal (they are shared boilerplate),
    * so they are dropped from the CANDIDATE stage only: a pair becomes a
    * candidate iff it shares at least one rare (df ≤ maxDf) shingle, which
    * bounds the join at O(Σ_{df≤τ} df²) ≤ O(τ · index size). Verification
    * then computes `shared`/`jac` over the FULL hash sets (sorted-merge
    * count ≡ size(array_intersect) on the distinct arrays,
    * IntersectExpressionsSpec), so every emitted pair carries the exact unfiltered
    * Jaccard — the cutoff affects recall only (pairs overlapping solely in
    * stop-shingles are missed; those are exactly the pairs MinHash-LSH
    * banding still catches, making [[lshCandidates]] the complementary
    * operator). The hot-shingle dictionary is a tiny aggregate (vocabulary
    * with df > τ), so Catalyst/AQE plans the anti-join as a broadcast.
    *
    * @param docs     one row per document
    * @param idCol    document id
    * @param hashesCol distinct shingle-hash array (see [[shingleHashes]])
    * @param minJaccard emit pairs with exact Jaccard >= this
    * @param maxDf    candidate-stage document-frequency cutoff */
  def ngramJaccardPairs(docs: DataFrame, idCol: Column, hashesCol: Column,
                        minJaccard: Double, maxDf: Int): DataFrame = {
    // no Fanout.pin here: this family's parallelism comes from its own
    // shingle-row exchanges (large enough for AQE to size correctly), and
    // an A/B at sf1m showed the extra repartition costs ~30% with no win
    val base = docs.select(idCol.as("id"), hashesCol.as("hs"))
    // jac = s/(na+nb−s) is monotone increasing in s, so the ub bound is a
    // lossless prune: a pair whose bound misses the threshold provably
    // cannot qualify, and no qualifying pair is ever dropped
    val pruned = candidateBounds(base, maxDf)
      .where(col("ub").cast("double") >=
        lit(minJaccard) * (col("na") + col("nb") - col("ub")).cast("double"))
      .select("ida", "idb")
    withShared(pruned, base)
      .withColumn("jac", col("shared").cast("double") /
        (size(col("ha")).cast("double") + size(col("hb")).cast("double") -
          col("shared").cast("double")))
      .where(col("jac") >= minJaccard)
      .select("ida", "idb", "shared", "jac")
  }

  /** AllPairs/PPJoin-style prefix-filtered exact set-similarity join
    * (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07;
    * Chaudhuri et al., "A Primitive Operator for Similarity Joins",
    * ICDE'06) — the inverted-index-pruning alternative to the df-capped
    * bound of [[ngramJaccardPairs]]:
    *
    *   1. order every document's shingle-hash set by ascending GLOBAL
    *      document frequency (rarest first; ties on the hash value so the
    *      canonical order is total and engine-independent);
    *   2. keep only the first  n − ceil(t·n) + 1  hashes — the PREFIX. Two
    *      sets with Jaccard ≥ t must share ≥ ceil(t·n) elements, so sets
    *      whose prefixes are disjoint provably cannot qualify: the filter
    *      is lossless, and because prefixes hold the globally RAREST
    *      hashes, the candidate join keys are exactly the low-df tail of
    *      the vocabulary — the high-df stop-shingles that explode naive
    *      inverted-index joins never reach the join;
    *   3. verify candidates with the division-free integer test
    *      shared·(10⁶+t_ppm) ≥ t_ppm·(na+nb)  ⟺  J ≥ t, exact.
    *
    * The per-doc ranking window partitions by doc id (bounded by document
    * length, never keys-sized); df is one vocabulary aggregate. Cross-
    * engine the gate proves losslessness itself: the oracle computes the
    * UNFILTERED exact join (all pairs sharing any hash), and equality
    * means the prefix prune dropped nothing.
    *
    * @param docs      one row per document
    * @param idCol     document id
    * @param hashesCol distinct shingle-hash array (see [[shingleHashes]])
    * @param minJaccard emit pairs with exact Jaccard >= this */
  def prefixFilterPairs(docs: DataFrame, idCol: Column,
                        hashesCol: Column, minJaccard: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tPpm = math.round(minJaccard * 1000000).toInt
    // no Fanout.pin (same A/B rationale as ngramJaccardPairs)
    val base = docs.select(idCol.as("id"), hashesCol.as("hs"))
    val ex = base.select(col("id"), explode(col("hs")).as("h"))
    val dfTab = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val sizes = base.select(col("id"), size(col("hs")).cast("long").as("n"))
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("h"))
    val prefix = ex.join(dfTab, "h").join(sizes, "id")
      .withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <=
        col("n") - expr(s"(n * $tPpm + 999999) DIV 1000000") + lit(1L))
      .select("id", "h")
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb")).distinct()
    withShared(cand, base)
      .withColumn("na", size(col("ha")).cast("long"))
      .withColumn("nb", size(col("hb")).cast("long"))
      .where(col("shared") * lit(1000000L + tPpm) >=
        lit(tPpm.toLong) * (col("na") + col("nb")))
      .select("ida", "idb", "shared", "na", "nb")
  }

  /** Verify stage of the set-similarity joins: each candidate (ida, idb)
    * with both documents' sorted hash arrays `ha`/`hb` of `base(id, hs)`
    * and their exact `shared` count. Each doc's hash array is sorted ONCE
    * (docs-sized work) so the per-PAIR exact intersection is an
    * allocation-free merge count instead of array_intersect's per-row hash
    * set + materialized array — pairs outnumber docs, so the trade is
    * strictly favorable (opt r13, guide §4; value-identical on distinct
    * arrays, IntersectExpressionsSpec). */
  private def withShared(pairs: DataFrame, base: DataFrame): DataFrame = {
    val sortedBase = base.select(col("id"), array_sort(col("hs")).as("hs"))
    pairs
      .join(sortedBase.select(col("id").as("ida"), col("hs").as("ha")), "ida")
      .join(sortedBase.select(col("id").as("idb"), col("hs").as("hb")), "idb")
      .withColumn("shared", graft.functions.IntersectExpressions
        .sortedIntersectCount(col("ha"), col("hb")))
  }

  /** Shared candidate stage of the jaccard / containment verifiers:
    * df-capped inverted-index pairs with the kept-shared count `ks`,
    * full/kept set sizes, and the lossless shared-count upper bound
    * `ub = ks + min(na−ka, nb−kb)` (a pair can at best also share every
    * hot shingle of the smaller hot set). Docs with zero kept shingles
    * generate no candidates, so the inner joins lose nothing; the
    * hot-shingle dictionary is a tiny aggregate that AQE broadcasts. */
  private def candidateBounds(base: DataFrame, maxDf: Int): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2 (a df-1 shingle pairs nothing), got $maxDf")
    val ex = base.select(col("id"), explode(col("hs")).as("h"))
    val hot = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select("h")
    val kept = ex.join(hot, Seq("h"), "left_anti")
    val sizes = base.select(col("id"), size(col("hs")).as("n"))
    val keptSizes = kept.groupBy(col("id")).agg(count(lit(1)).as("kn"))
    val stats = sizes.join(keptSizes, "id")
    kept.as("a").join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("ida"), col("b.id").as("idb"))
      .agg(count(lit(1)).as("ks"))
      .join(stats.select(col("id").as("ida"), col("n").as("na"), col("kn").as("ka")), "ida")
      .join(stats.select(col("id").as("idb"), col("n").as("nb"), col("kn").as("kb")), "idb")
      .withColumn("ub", col("ks") + least(col("na") - col("ka"), col("nb") - col("kb")))
  }

  /** Near-subset pairs by CONTAINMENT of the smaller shingle set in the
    * larger: C = |A∩B| / min(|A|,|B|). Jaccard misses partial copies —
    * a paragraph quoted inside a 100× longer document scores
    * jac ≈ |quote|/|doc| but containment ≈ 1 — and containment is the
    * signal for quote/boilerplate/subset leakage in an LLM corpus.
    *
    * Same scale discipline as [[ngramJaccardPairs]]: df-capped inverted
    * index for candidates (a pair must share ≥1 rare shingle — the
    * documented recall contract, identical in the oracle), then a
    * lossless upper-bound prune before the exact intersect:
    * shared ≤ ks + min(na−ka, nb−kb) and C = s/min(na,nb) is monotone
    * in s, so no qualifying pair is dropped. */
  def containmentPairs(docs: DataFrame, idCol: Column, hashesCol: Column,
                       minContainment: Double, maxDf: Int): DataFrame = {
    // no Fanout.pin (same A/B rationale as ngramJaccardPairs)
    val base = docs.select(idCol.as("id"), hashesCol.as("hs"))
    // C = s/min(na,nb) is monotone in s — same lossless-prune argument
    val pruned = candidateBounds(base, maxDf)
      .where(col("ub").cast("double") >=
        lit(minContainment) * least(col("na"), col("nb")).cast("double"))
      .select("ida", "idb")
    withShared(pruned, base)
      .withColumn("cont", col("shared").cast("double") /
        least(size(col("ha")), size(col("hb"))).cast("double"))
      .where(col("cont") >= minContainment)
      .select("ida", "idb", "shared", "cont")
  }

  // ------------------------------------------------- duplicate clusters

  /** Connected components over a near-duplicate PAIR graph: every document
    * that appears in `pairs` is labeled with the minimum doc id reachable
    * through pair edges (its cluster id) — the step that turns pairwise
    * near-dup evidence into "keep one per cluster" decisions.
    *
    * Algorithm: iterative min-label propagation. Each round joins the
    * (symmetric) edge list with current labels, takes the min neighbor
    * label per node, and lowers labels that improve; convergence when no
    * label changes. Rounds = graph diameter — near-dup components are
    * near-cliques out of LSH banding, so 2–3 rounds in practice
    * (production-hardening for adversarial long chains would add the
    * star-contraction variants; the join/agg shape is identical). The
    * propagation DOUBLE-steps between convergence checks: at local[32]
    * scale each convergence count is a fixed-overhead job and the label
    * table is tiny, so halving the number of materialization rounds — not
    * the number of edge joins — is what moves wall-clock; the fixpoint is
    * unchanged (labels decrease monotonically, and an extra step at the
    * fixpoint is the identity). Each step is one shuffle on the node id;
    * `localCheckpoint` truncates the growing lineage so round N's plan
    * does not replay rounds 1..N-1. Deterministic for any input
    * partitioning (min is order-insensitive).
    *
    * `maxSteps` (even, default unbounded) caps the propagation at a FIXED
    * synchronous round budget: the result is then "min label within
    * maxSteps hops", which equals the true components whenever every
    * component's min-id eccentricity is within budget — and, crucially,
    * is a well-defined query even when it is not, so a bounded-round
    * DuckDB twin replays it exactly on fixtures where the unbounded
    * reachability oracle is quadratic-infeasible (r9 verdict #4: the
    * sf1mut pHash domain saturates into one giant component). Convergence
    * inside the budget is empirically pinned per call site (pHash: the
    * saturated 16-bit value graph at Hamming ≤ 3 has eccentricity ≤ 7,
    * but SPARSE fixtures form chains — measured worst case 13 rounds at
    * sf0.01, hence the call site's budget of 14).
    *
    * Returns (doc_id, cluster_id), one row per distinct doc in `pairs`. */
  def duplicateClusters(pairs: DataFrame, idaCol: Column, idbCol: Column,
                        maxSteps: Int = Int.MaxValue - 1): DataFrame = {
    require(maxSteps >= 2 && maxSteps % 2 == 0,
      s"maxSteps must be even and >= 2 (double-stepped loop), got $maxSteps")
    val edges = pairs.select(idaCol.as("src"), idbCol.as("dst"))
      .unionByName(pairs.select(idbCol.as("src"), idaCol.as("dst")))
      .distinct()
      .localCheckpoint(false)
    def step(l: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(l.select(col("id").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nl")).as("nmin"))
      l.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(false)
    var changed = 1L
    var steps = 0
    while (changed > 0 && steps < maxSteps) {
      val next = step(step(labels)).localCheckpoint(false)
      changed = labels.select(col("id"), col("label").as("__old"))
        .join(next, "id")
        .where(col("__old") =!= col("label")).count()
      labels = next
      steps += 2
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Exact Jaccard similarity of two distinct-element arrays. Integer set
    * sizes divided as doubles — bit-identical across engines. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a).cast("double") + size(b).cast("double") - inter)
  }

  /** DuckDB oracle twin for [[jaccard]] over two list expressions. */
  def sqlJaccard(a: String, b: String): String =
    s"CAST(len(list_intersect($a, $b)) AS DOUBLE) / (CAST(len($a) AS DOUBLE) + " +
      s"CAST(len($b) AS DOUBLE) - CAST(len(list_intersect($a, $b)) AS DOUBLE))"

  // --------------------------------------------------------- SimHash

  /** 60-bit SimHash over a feature (shingle) array: per-bit majority vote
    * of the features' 60-bit md5-derived hashes. Implemented as
    * explode → single groupBy with 60 conditional sums (one shuffle,
    * map-side combined), not a per-row O(features·bits) lambda. */
  def simhash(df: DataFrame, idCol: Column, featuresCol: Column): DataFrame = {
    // pin before the feature explode + per-shingle md5 (serial over a
    // mono-split scan otherwise — see [[graft.operators.Fanout]])
    val f = graft.operators.Fanout.pin(df)
      .select(idCol.as("id"), explode(featuresCol).as("s"))
      .select(col("id"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
    val bitSums = (0 until 60).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1, 1)
        .otherwise(-1)).as(s"__b$b"))
    val agg = f.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 60).map(b =>
      when(col(s"__b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col("id"), sig.as("simhash"))
  }

  /** Near-duplicate pairs by SimHash Hamming distance ≤ maxHamming.
    * Candidates via CHUNK-PAIR banding over the 60-bit signature: the ten
    * 6-bit chunks yield C(10,2)=45 combined 12-bit keys per doc. Pigeonhole:
    * ≤ 8 corrupted bits hit ≤ 8 chunks, leaving ≥ 2 intact — so every pair
    * within Hamming ≤ 8 collides on some chunk-pair key, and recall stays
    * exactly 100% (the oracle needs no banding mirror — the exact
    * bit_count verify sees every qualifying pair either way). vs single-
    * chunk banding (64 buckets per chunk ⇒ candidate volume n²·10/64,
    * quadratic at corpus scale): 4096 buckets per combo cuts candidates
    * ~14× for 4.5× more (still tiny) exploded rows. */
  def simhashPairs(sig: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 8,
      "2-of-10-chunk banding guarantees full recall only for Hamming <= 8")
    val combos = for { a <- 0 until 10; b <- a + 1 until 10 } yield (a, b)
    // the signature aggregate is docs-count-sized (tiny post-shuffle →
    // AQE would coalesce it to one partition) while this stage fans out
    // 45× into the chunk-pair candidate join — round-robin pin so the
    // explode runs n-way; the join's own (c,v) exchange carries the
    // chunk-level (45×) row count and keeps AQE skew-splitting
    val pinned = graft.operators.Fanout.pin(sig)
    val chunks = pinned.select(col("id"), col("simhash"),
      explode(array(combos.map { case (a, b) =>
        struct(lit(a * 10 + b).as("c"),
          (shiftright(col("simhash"), 6 * a).bitwiseAND(lit(63L)) * 64 +
            shiftright(col("simhash"), 6 * b).bitwiseAND(lit(63L))).as("v"))
      }: _*)).as("ch"))
      .select(col("id"), col("simhash"), col("ch.c").as("c"), col("ch.v").as("v"))
    chunks.as("a").join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        col("a.simhash").as("sha"), col("b.simhash").as("shb"))
      .distinct()
      .withColumn("ham", bit_count(col("sha").bitwiseXOR(col("shb"))).cast("long"))
      .where(col("ham") <= maxHamming)
      .select("ida", "idb", "ham")
  }

  /** Cross-corpus LSH candidates: near-duplicate pairs BETWEEN two
    * signature tables (an incoming batch vs the ingested catalog) — the
    * incremental-dedup shape, where a self-join over batch ∪ catalog would
    * waste the catalog×catalog quadrant that is already deduplicated.
    * Same banding math as [[lshCandidates]]; the join is batch-bands ⋈
    * catalog-bands on (band, hash), so the catalog side can be a
    * pre-materialized (bucketed) band table that new batches probe. */
  def lshCandidatesAcross(left: DataFrame, right: DataFrame,
                          idCol: Column, sigCol: Column,
                          bands: Int, r: Int): DataFrame = {
    def bandsOf(df: DataFrame, idName: String, bhName: String) =
      df.select(idCol.as(idName), explode(lshBands(sigCol, bands, r)).as("bd"))
        .select(col(idName), col("bd.band").as(s"${bhName}_band"),
          col("bd.bh").as(bhName))
    val a = bandsOf(left, "ida", "bha")
    val b = bandsOf(right, "idb", "bhb")
    a.join(b, col("bha_band") === col("bhb_band") && col("bha") === col("bhb"))
      .select(col("ida"), col("idb"))
      .distinct()
  }

  /** Novelty filter against a reference corpus: keep only rows whose
    * fingerprint does not occur in `ref` — dedup of an incoming batch
    * against an already-ingested corpus, without materializing matches.
    *
    * LEFT ANTI is the right plan at 100 TB: no payload from `ref` moves,
    * no duplication on multi-match, and Spark picks broadcast vs shuffled
    * anti join from `ref`'s size (AQE re-plans at runtime). When `ref` is
    * huge but the batch is small, the same call flips to a broadcast of
    * the batch side automatically under AQE — nothing here hard-codes a
    * strategy. */
  def novelAgainst(batch: DataFrame, ref: DataFrame, fpCol: String): DataFrame =
    batch.join(ref.select(col(fpCol)).distinct(), Seq(fpCol), "left_anti")

}
