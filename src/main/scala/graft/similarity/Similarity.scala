package graft.similarity

import graft.dedup.Dedup
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Vector similarity operators over an embedding column
  * (`array<float>` cast to `array<double>`): exact cosine algebra, a
  * brute-force top-k baseline, and a sign-LSH bucketed ANN variant as the
  * scale path (builder-prompt extension surface).
  *
  * All arithmetic is sequential left-to-right double accumulation inside
  * `aggregate`/`zip_with` — a fixed IEEE operation order, so the DuckDB
  * oracle (list_reduce over an index comprehension) reproduces every score
  * bitwise. float→double element widening is exact.
  *
  * Scale notes: brute-force top-k is a broadcast of the (small) query set
  * against a full scan of the corpus — one pass, no shuffle of the corpus,
  * `TakeOrderedAndProject`-style per-partition heaps via the row_number
  * window on the (tiny) query-id partitions. The ANN variant replaces the
  * corpus scan per query with a bucket-equi-join on sign patterns —
  * shuffle O(n·bands), candidates confined to matching buckets.
  */
object Similarity {

  /** Dot product with fixed left-to-right double accumulation. Backed by
    * the codegen'd [[graft.functions.DotProductDouble]] expression — the
    * identical fold order as `aggregate(zip_with(a, b, _*_), 0.0, _+_)`,
    * bitwise-equal results, minus the per-element interpreted-lambda cost. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotNative(a, b)

  /** L2 norm (sequential accumulation, see [[dot]]). */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** DuckDB oracle twin for [[cosine]] over two DOUBLE-list expressions
    * (`list_dot_product` is the same sequential left-to-right fold). */
  def sqlCosine(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** Unit-normalized copy of a vector (each element divided by the L2
    * norm). Elementwise ops on a shared scalar — bitwise reproducible
    * cross-engine. Zero vectors normalize to NaNs (0/0), matching SQL
    * division semantics in both engines. */
  def normalize(vec: Column): Column = {
    val n = l2norm(vec)
    transform(vec, x => x / n)
  }

  /** Symmetric int8 quantization: scale = max |element|, each element maps
    * to floor(x·127/scale + 0.5) ∈ [-127, 127] (floor(x+0.5) is
    * round-half-up in BOTH engines — `round()` is not: Spark rounds
    * half-up, DuckDB half-away — so the formula, not the builtin, is the
    * cross-engine contract). Zero vectors quantize to zeros. Returns a
    * struct (scale, q) — 8× smaller vectors for ANN candidate stages, with
    * `scale` kept for dequantization. */
  def quantizeInt8(vec: Column): Column = {
    val scale = array_max(transform(vec, x => abs(x)))
    val q = when(scale === 0.0,
        transform(vec, _ => lit(0))) // all-zero vector: keep zeros, not 0/0
      .otherwise(transform(vec, x => floor(x * lit(127.0) / scale + lit(0.5)).cast("int")))
    struct(scale.as("scale"), q.as("q"))
  }

  /** Johnson–Lindenstrauss-style random projection to `outDims` via the
    * same seeded Rademacher planes as sign-LSH ([[graft.functions.RademacherPlanes]],
    * band 0, bit j = output dim j): out[j] = dot(v, r_j), fixed-order IEEE
    * accumulation through the codegen'd dot kernel — the oracle rebuilds
    * identical planes from the shared md5 formula. E[‖out‖²] = outDims·‖v‖²
    * (Rademacher rows have unit-variance entries); distances are preserved
    * in expectation, at 64→outDims bytes the scale win for distance-based
    * candidate generation. */
  def randomProjection(vec: Column, seed: Long, outDims: Int, dims: Int): Column = {
    val planes = graft.functions.RademacherPlanes.planes(seed, 1, outDims, dims)
    array(planes.toIndexedSeq.map(p => dot(vec, typedlit(p.toSeq))): _*)
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most-cosine-similar corpus items with a DIFFERENT label — the
    * "confusable but wrong" examples a retrieval/embedding trainer wants.
    * Same broadcast-query scan shape as [[bruteForceTopK]] (the label
    * inequality rides the join as a residual); swap the corpus for an LSH
    * candidate table to scale past a full scan, exactly as ANN top-k does. */
  def hardNegatives(emb: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    val q = normed(emb.where(col("vec_id") < queryMaxId),
      Seq(col("vec_id").as("qid"), col("label").as("qlabel")), "qv", "qn")
    val c = normed(emb, Seq(col("vec_id").as("nid"), col("label").as("nlabel")),
      "nv", "nn")
    topKByCosine(broadcast(q).crossJoin(c).where(col("qlabel") =!= col("nlabel")),
      k, "qid", "qlabel", "nid", "nlabel", "rank", "cos")
  }

  /** Brute-force exact top-k by cosine: for each row of `queries`, the k
    * nearest `corpus` rows (excluding self-matches on id equality). The
    * query side is expected to be small — Spark broadcasts it, so the
    * corpus is scanned once with no shuffle. Deterministic tiebreak on
    * corpus id. Returns (qid, nid, rank, cos). */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = normed(queries, Seq(col("vec_id").as("qid")), "qv", "qn")
    val c = normed(corpus, Seq(col("vec_id").as("nid")), "nv", "nn")
    topKByCosine(broadcast(q).crossJoin(c).where(col("qid") =!= col("nid")),
      k, "qid", "nid", "rank", "cos")
  }

  /** (id, v): each vector's id and its embedding as a double vector. */
  private def idVectors(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("v"))

  /** The training-free centroid set (cid, cv): the (id, v) rows with id
    * below `n`. */
  private def firstCentroids(v: DataFrame, n: Int): DataFrame =
    v.where(col("id") < n).select(col("id").as("cid"), col("v").as("cv"))

  /** `cols` of `df` beside its embedding as a double vector `v` and that
    * vector's norm `n`. Norms are precomputed per side: each corpus row
    * scores against every query, so folding the norm into the pair
    * expression would recompute it |queries| times per row. sqrt(dot(v,v))
    * here is the identical expression, so cos values stay bitwise
    * unchanged. */
  private def normed(df: DataFrame, cols: Seq[Column], v: String,
                     n: String): DataFrame =
    df.select(cols :+ col("embedding").cast("array<double>").as(v): _*)
      .withColumn(n, l2norm(col(v)))

  /** The k best-scoring `nid`s per `qid` of a (qid, qv, qn, nid, nv, nn)
    * pair table by cosine, ties on `nid`, projected to `out`. */
  private def topKByCosine(pairs: DataFrame, k: Int, out: String*): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    pairs.withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(out.map(col): _*)
  }

  /** IVF-style cell assignment: each vector goes to the centroid with the
    * highest dot product (ties → lowest centroid id). The coarse quantizer
    * here is training-free (the first `nCentroids` vectors act as
    * centroids) — production swaps in k-means centroids; the
    * assign/partition/search plumbing is identical and is what scales:
    * broadcast the centroid set, one scan to assign, then searches touch
    * only matching cells instead of the corpus.
    * Returns (id, v, cell). */
  def ivfAssign(vectors: DataFrame, nCentroids: Int): DataFrame =
    rankedCells(vectors, nCentroids)
      .where(col("rn") === 1)
      .select(col("id"), col("v"), col("cid").as("cell"))

  /** The coarse quantizer behind [[ivfAssign]] and [[ivfTopKProbes]]:
    * every (id, v) against every centroid (cid, cv) of the first
    * `nCentroids` vectors, with its dot-product `score` and its rank `rn`
    * per id (best score first, ties → lowest cid). */
  private def rankedCells(vectors: DataFrame, nCentroids: Int): DataFrame = {
    val v = idVectors(vectors)
    val cents = firstCentroids(v, nCentroids)
    val w = Window.partitionBy(col("id")).orderBy(col("score").desc, col("cid"))
    v.crossJoin(broadcast(cents))
      .withColumn("score", dot(col("v"), col("cv")))
      .withColumn("rn", row_number().over(w))
  }

  /** DuckDB oracle twin for [[ivfAssign]] over a CTE `e(vec_id, v)`: CTEs
    * `cents`, `scored` and `assigned(id, v, cell)`; `withVectors = false`
    * leaves `v` out of `scored` and `assigned`. */
  def sqlIvfAssign(nCentroids: Int, withVectors: Boolean = true): String = {
    val (ev, v) = if (withVectors) ("e.v, ", "v, ") else ("", "")
    s"""cents AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nCentroids),
          scored AS (
            SELECT e.vec_id AS id, ${ev}cid, list_dot_product(v, cv) AS score
            FROM e CROSS JOIN cents),
          assigned AS (
            SELECT id, ${v}cid AS cell
            FROM (SELECT id, ${v}cid,
                         row_number() OVER (PARTITION BY id ORDER BY score DESC, cid) AS rn
                  FROM scored)
            WHERE rn = 1)"""
  }

  /** IVF top-k: rank only corpus vectors sharing the query's cell
    * (single-probe). Returns (qid, nid, rank, cos); recall vs brute force
    * depends on the quantizer — the engine contract is the deterministic
    * cell-restricted search. */
  def ivfTopK(vectors: DataFrame, nCentroids: Int, queryMaxId: Long,
              k: Int): DataFrame =
    ivfTopKProbes(vectors, nCentroids, queryMaxId, k, nprobe = 1)

  /** Multi-probe IVF top-k: each query searches its `nprobe` nearest cells
    * instead of one — the standard fix for single-probe's recall cliff at
    * cell boundaries (a true neighbor just across the Voronoi edge is
    * invisible to nprobe = 1). Corpus vectors still live in exactly one
    * cell, so each (query, neighbor) pair arises at most once — no dedup
    * stage. Cost scales linearly in nprobe while the corpus side stays a
    * single broadcast-joined scan; nprobe = nCentroids degenerates to
    * brute force (the recall proof in SimilaritySpec). Returns
    * (qid, nid, rank, cos). */
  def ivfTopKProbes(vectors: DataFrame, nCentroids: Int, queryMaxId: Long,
                    k: Int, nprobe: Int): DataFrame = {
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    val ranked = rankedCells(vectors, nCentroids)
    val c = ranked.where(col("rn") === 1)
      .select(col("id").as("nid"), col("v").as("nv"), col("cid").as("cell"))
      .withColumn("nn", l2norm(col("nv")))
    val q = ranked.where(col("id") < queryMaxId && col("rn") <= nprobe)
      .select(col("id").as("qid"), col("v").as("qv"), col("cid").as("cell"))
      .withColumn("qn", l2norm(col("qv")))
    topKByCosine(broadcast(q).join(c, "cell").where(col("qid") =!= col("nid")),
      k, "qid", "nid", "rank", "cos")
  }

  /** All-centroid squared distances: one row per (vector, centroid), with
    * the centroid's rank `rn` per vector (nearest first, ties → lowest
    * cid). The dist² chain (‖v‖² − 2·v·c + ‖c‖²) is the fixed-order IEEE
    * expression the DuckDB oracles mirror bitwise. */
  private def scoredCells(v: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("dist2"), col("cid"))
    v.crossJoin(broadcast(cents))
      .withColumn("dist2",
        dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("cv")) +
          dot(col("cv"), col("cv")))
      .withColumn("rn", row_number().over(w))
  }

  /** One Lloyd assignment step: each vector to its nearest centroid by
    * squared L2 distance, ties → lowest cid. The dist2 expression keeps a
    * fixed association order so the oracle reproduces it bitwise. */
  private def assignCells(v: DataFrame, cents: DataFrame): DataFrame =
    scoredCells(v, cents).where(col("rn") === 1)
      .select(col("id"), col("v"), col("cid"), col("dist2"))

  /** Per-point centroid-based (simplified) silhouette over trained k-means
    * cells, on SQUARED distances: a² = dist² to the nearest centroid (the
    * own cell by construction), b² = dist² to the second-nearest, and
    * s = (b² − a²)/max(a², b²) ∈ [0, 1] quantized per point to integer
    * micro-units at the leaf (floor(s·10⁶ + 0.5) of a double both engines
    * build from bitwise-identical dist² chains) — so downstream per-cell
    * means are exact integer arithmetic, never an order-sensitive float
    * sum. The classical full silhouette needs all-pairs distances (O(n²));
    * the centroid form is the standard scalable surrogate: per point it
    * touches only the k broadcast centroids, and the per-id window spans
    * exactly k rows. Returns (id, cell, s_micro). */
  def silhouetteByCell(vectors: DataFrame, k: Int, iters: Int,
                       dims: Int = 64): DataFrame = {
    val v = idVectors(vectors)
    val cents = kmeansCentroids(vectors, k, iters, dims)
    val top2 = scoredCells(v, cents).where(col("rn") <= 2)
    top2.groupBy("id").agg(
        min(when(col("rn") === 1, col("cid"))).as("cell"),
        min(when(col("rn") === 1, col("dist2"))).as("a2"),
        min(when(col("rn") === 2, col("dist2"))).as("b2"))
      .select(col("id"), col("cell"),
        when(greatest(col("a2"), col("b2")) <= 0.0, lit(0L))
          .otherwise(floor((col("b2") - col("a2")) /
            greatest(col("a2"), col("b2")) * 1e6 + lit(0.5)).cast("long"))
          .as("s_micro"))
  }

  /** Lloyd k-means training for the IVF coarse quantizer, engineered for
    * determinism at cluster scale: the centroid-mean numerators accumulate
    * as exact BIGINT micro-units (`floor(x·10⁶ + 0.5)` per element —
    * integer addition is associative, so the result is partition-order
    * independent, unlike a double sum) and divide back out in one double
    * division. The 10⁻⁶ input quantization is irrelevant for a coarse
    * quantizer and buys bitwise cross-engine reproducibility — the DuckDB
    * oracle mirrors the identical integer sums. Headroom: |x| ≤ 10³ over
    * 10⁹ rows stays under 2⁶³.
    *
    * Init = the first k vectors by id (deterministic); empty cells keep
    * their previous centroid; iters = 0 returns the init set.
    * Returns (cid, cv). */
  def kmeansCentroids(vectors: DataFrame, k: Int, iters: Int,
                      dims: Int = 64): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    val v = idVectors(vectors)
    var cents = firstCentroids(v, k)
    for (_ <- 1 to iters) {
      val assigned = assignCells(v, cents)
      val means = (0 until dims).map { d0 =>
        (sum(floor(element_at(col("v"), d0 + 1) * 1e6 + lit(0.5)).cast("long"))
          .cast("double") /
          (count(lit(1)).cast("double") * lit(1e6))).as(s"__c$d0")
      }
      val updated = assigned.groupBy(col("cid"))
        .agg(means.head, means.tail: _*)
        .select(col("cid"),
          array((0 until dims).map(d0 => col(s"__c$d0")): _*).as("cv"))
      cents = cents.select(col("cid"), col("cv").as("prev"))
        .join(updated.select(col("cid"), col("cv").as("upd")), Seq("cid"), "left")
        .select(col("cid"), coalesce(col("upd"), col("prev")).as("cv"))
        .localCheckpoint(false)
    }
    cents
  }

  /** Trained-IVF cell assignment: k-means centroids ([[kmeansCentroids]])
    * then one nearest-centroid pass. Returns (id, cell, dist2). */
  def kmeansAssign(vectors: DataFrame, k: Int, iters: Int,
                   dims: Int = 64): DataFrame = {
    val v = idVectors(vectors)
    assignCells(v, kmeansCentroids(vectors, k, iters, dims))
      .select(col("id"), col("cid").as("cell"), col("dist2"))
  }

  /** ANN candidate pairs via random-hyperplane sign-LSH with exact cosine
    * attached; callers filter/top-k downstream.
    *
    * Geometry: `bands` independent bands of `width` seeded Rademacher
    * hyperplanes over ALL `dims` dimensions ([[graft.functions.RademacherPlanes]]
    * — not axis-aligned leading-dim signs, which degenerate to 2^width
    * fixed buckets of the first dims). Two vectors are candidates iff, in
    * at least one band, their width-bit sign patterns differ by at most one
    * bit (multiprobe radius `probeRadius` ∈ {0 = exact bucket, 1, 2}).
    *
    * Scale knobs, and how to set them at corpus size n:
    *   - `width`: pattern space must grow with n — width ≥ log2(n / target
    *     bucket size) keeps expected bucket occupancy flat (16–24 bits for
    *     1e6–1e9 vectors). Candidate volume per band is Σ bucket²/2, so
    *     doubling width quarters it.
    *   - `bands` buys recall: P(candidate) = 1 − (1 − p_band)^bands with
    *     p_band = (1−θ/π)^width (+ width·(θ/π)(1−θ/π)^{width−1} with
    *     multiprobe).
    *   - `maxBucket` is the skew guard: a bucket larger than the cap (a
    *     degenerate direction — e.g. all-zero or boilerplate embeddings)
    *     is excluded from candidate generation entirely, bounding any
    *     single bucket's join contribution at maxBucket² (AQE's skew-join
    *     split handles the rest). The cap is part of the operator's
    *     semantics and mirrored by the oracle.
    *
    * The fixture queries run bands=16/width=8 (calibrated for recall at the
    * fixture's loose cos≥0.4 "near" threshold over 500–2000 vectors); the
    * 100 TB defaults are bands=8/width=16+.
    *
    * MEASURED (SCALING_sf1.md "Round-10", 20k vectors at sf1mut, radius 2,
    * τ = 0.45): widening 8→12 bits cuts candidate volume 6× in raw join
    * rows (2.17B → 362M; engine 237 s → 42 s) at 0.62% threshold-pair
    * recall cost, and doubling bands at width 12 restores recall to
    * 99.92% while staying 11× below the width-8 volume — candidates
    * scale ~quadratically in bucket occupancy but only ~linearly in
    * bands, which is why width tracks corpus size and bands track the
    * recall target. */
  def signLshPairs(vectors: DataFrame, seed: Long, bands: Int, width: Int,
                   maxBucket: Int, probeRadius: Int = 1,
                   dims: Int = 64): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= 2,
      s"probeRadius must be 0, 1, or 2, got $probeRadius")
    // per-vector norm computed once on the (small) vector side, not once
    // per candidate pair — cos values are bitwise unchanged (same sqrt(dot))
    val v = idVectors(vectors)
      .withColumn("nrm", l2norm(col("v")))
    // Fanout.pin BEFORE the bands/probes explode (same reason as
    // lshCandidates): the embeddings scan is a handful of splits, and the
    // bands× (× probes×, up to 37 at radius 2) expansion plus the
    // candidate SMJ would otherwise run in those few tasks — found live
    // at sf1, where the radius-2 probe sort OOM'd two giant tasks that a
    // pinned layout spreads across the full shuffle width.
    val e = graft.operators.Fanout.pin(v).select(col("id"),
        posexplode(graft.functions.VectorExpressions.signBandPatterns(
          col("v"), seed, bands, width, dims)))
      .select(col("id"), col("pos").as("band"), col("col").as("pat"))
    // bucket-size cap on exact buckets: oversized buckets opt out of
    // candidate generation on BOTH sides (they carry no discriminative
    // signal, like hot shingles in ngramJaccardPairs)
    val kept = e.join(
      e.groupBy(col("band"), col("pat")).agg(count(lit(1)).as("c"))
        .where(col("c") <= maxBucket).select("band", "pat"),
      Seq("band", "pat"))
    // multiprobe: candidate pairs are patterns within Hamming distance
    // `probeRadius` in some band (per-band hit probability
    // Σ_{k≤r} C(w,k)p^{w−k}(1−p)^k). Radius 1 (the default) is the
    // production recall/cost point — exact patterns joined against the
    // (1 + w)× radius-1 probe expansion. Radius 2 uses the SYMMETRIC
    // split d(x,y) ≤ 2 ⟺ ∃z: d(x,z) ≤ 1 ∧ d(z,y) ≤ 1 (z = flip one of
    // the ≤ 2 differing bits), so BOTH sides expand only (1 + w)× and
    // join on the shared midpoint — the IDENTICAL pair set as probing
    // radius-2 buckets asymmetrically, but the join sorts 2·(1+w)·n rows
    // instead of (1 + w + C(w,2))·n ≈ 37n on one side, and per-bucket
    // join output falls ~4× (found live: the asymmetric form OOM-spilled
    // the radius-2 gate build under 32 concurrent tasks at sf1). This is
    // the knob the lossless-at-fixture-scale dedup gate
    // (q_dedup_semdedup_ann) turns instead of lowering its threshold.
    val flips1 = (0 until width).map(j => col("pat").bitwiseXOR(lit(1L << j)))
    def probes1(df: DataFrame): DataFrame =
      df.select(col("id"), col("band"),
        explode(array(Seq(col("pat")) ++ flips1: _*)).as("probe"))
    def exact(df: DataFrame): DataFrame =
      df.select(col("id"), col("band"), col("pat").as("probe"))
    val (left, right) = probeRadius match {
      case 0 => (exact(kept), exact(kept))
      case 1 => (exact(kept), probes1(kept))
      case _ => (probes1(kept), probes1(kept))
    }
    val cand = left.as("a").join(right.as("b"),
        col("a.band") === col("b.band") && col("a.probe") === col("b.probe") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("va"), col("b.id").as("vb"))
      .distinct()
    cand
      .join(v.select(col("id").as("va"), col("v").as("xa"), col("nrm").as("na")), "va")
      .join(v.select(col("id").as("vb"), col("v").as("xb"), col("nrm").as("nb")), "vb")
      .withColumn("cos", dot(col("xa"), col("xb")) / (col("na") * col("nb")))
      .select("va", "vb", "cos")
  }
}
