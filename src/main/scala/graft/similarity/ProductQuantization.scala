package graft.similarity

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}

/** Product quantization (PQ) for approximate nearest-neighbor search:
  * split each vector into `m` subvectors, quantize every subvector to its
  * nearest codebook centroid, and answer queries with asymmetric distance
  * computation (ADC) — the query stays exact, corpus vectors are
  * represented by `m` small codes, and distance is a sum of `m` table
  * lookups. This is the memory-side scale path: a 64-dim float vector
  * (256 B) compresses to `m` = 8 single-byte codes, a 32× reduction that
  * lets a 1000-executor cluster hold billions of vectors in memory.
  *
  * Codebooks here are training-free (the first `ksub` corpus vectors,
  * sliced per subspace — same discipline as `Similarity.ivfTopK`'s coarse
  * quantizer); swapping in k-means-trained centroids is the
  * `Similarity.kmeansAssign` composition and changes nothing structural.
  *
  * Plan shape: the codebook (`m`·`ksub` rows) and the query distance
  * tables (`|Q|`·`m`·`ksub` rows) BROADCAST; corpus encoding is one
  * scan + a `(id, m)`-keyed argmin; the ADC scan joins codes to tables on
  * `(m, code)` and aggregates `(query, doc)` — never a full-vector
  * corpus×query product.
  *
  * Determinism: every element is quantized to integer micro-units at the
  * LEAF (one multiply-add per element on the raw double, the site audited
  * by QuantBoundarySpec), so all distances, argmins, and sums downstream
  * are pure integer arithmetic — partition-order-independent and bitwise
  * identical in the DuckDB oracle with no floating-point surface an
  * engine build could drift on. Distances are therefore in micro² units
  * (1e-12 of the squared-L2): `adist_micro2`. */
object ProductQuantization {

  /** Per-element micro-unit quantization: the single float→int site. */
  private def microVec(vec: Column): Column =
    transform(vec, x => floor(x * lit(1000000.0) + lit(0.5)).cast("long"))

  /** Fixed-order ∑(aᵢ−bᵢ)² over micro-quantized vectors — exact longs.
    * Headroom: |element| ≤ 10³ (10⁹ micro) over 8 dims stays below 2⁶³. */
  private def dist2Micro2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** (row, m, sv): explode a vector column into its `m` subvectors. */
  private def subspaces(df: DataFrame, vec: Column, m: Int, subDim: Int): DataFrame =
    df.select(col("*"), explode(array((0 until m).map(i =>
        struct(lit(i).as("m"), slice(vec, i * subDim + 1, subDim).as("sv"))): _*)).as("__e"))
      .withColumn("m", col("__e.m")).withColumn("sv", col("__e.sv"))
      .drop("__e")

  /** Per (vector, subspace): the squared distance `d2q` to every centroid
    * `cid` of that subspace's training-free codebook (the first `ksub`
    * vectors). */
  private def centroidDistances(emb: DataFrame, idCol: Column, vecCol: Column,
                                m: Int, subDim: Int, ksub: Int): DataFrame = {
    val base = emb.select(idCol.as("id"),
      microVec(vecCol.cast("array<double>")).as("v"))
    val sub = subspaces(base, col("v"), m, subDim).select("id", "m", "sv")
    val cb = sub.where(col("id") < ksub)
      .select(col("id").as("cid"), col("m"), col("sv").as("cv"))
    sub.join(broadcast(cb), "m")
      .withColumn("d2q", dist2Micro2(col("sv"), col("cv")))
  }

  /** Corpus PQ codes and query ADC distance tables.
    * Returns (codes(id, m, code), dt(qid, m, cid, qd2q)) — codes is one
    * scan + an (id, m)-keyed argmin; dt is |Q|·m·ksub rows (broadcast by
    * callers). */
  private def encode(emb: DataFrame, idCol: Column, vecCol: Column,
                     queryMaxId: Long, m: Int, subDim: Int,
                     ksub: Int): (DataFrame, DataFrame) = {
    val d = centroidDistances(emb, idCol, vecCol, m, subDim, ksub)
      .select(col("id"), col("m"), col("cid"), col("d2q"))
    // corpus codes: argmin centroid per (id, m) — struct-min ties on cid
    val codes = d.groupBy("id", "m")
      .agg(min(struct(col("d2q"), col("cid"))).as("mn"))
      .select(col("id"), col("m"), col("mn.cid").as("code"))
    val dt = d.where(col("id") < queryMaxId)
      .select(col("id").as("qid"), col("m"), col("cid"), col("d2q").as("qd2q"))
    (codes, dt)
  }

  /** Per-subspace quantization distortion: the min-centroid squared error
    * each row pays when its subvector is replaced by its code — the PQ
    * index-quality report (a subspace whose distortion dwarfs the others
    * needs more centroids or a rotation). Output:
    * (m, n, avg_d2q_micro2, max_d2q_micro2) — integer micro²-unit
    * arithmetic end to end, same audited leaf quantization as the search
    * path, so the report gates bitwise. */
  def distortion(emb: DataFrame, idCol: Column, vecCol: Column,
                 m: Int, subDim: Int, ksub: Int): DataFrame = {
    centroidDistances(emb, idCol, vecCol, m, subDim, ksub)
      .groupBy("id", "m").agg(min(col("d2q")).as("d2q"))
      .groupBy(col("m").cast("long").as("m"))
      .agg(count(lit(1)).as("n"),
        expr("sum(d2q) DIV count(1)").as("avg_d2q_micro2"),
        max(col("d2q")).as("max_d2q_micro2"))
      .orderBy("m")
  }

  /** ADC top-k: queries = corpus rows with id < queryMaxId (searched
    * exactly), corpus represented by PQ codes. Output:
    * (qid, nid, rank, adist_micro2) — approximate squared L2 in 1e-12
    * units (micro-quantized elements).
    *
    * Contract: every vector must have exactly m·subDim elements — a short
    * vector's trailing subspaces would slice empty and contribute zero
    * distance (silently inflating its similarity) rather than erroring. */
  def adcTopK(emb: DataFrame, idCol: Column, vecCol: Column,
              queryMaxId: Long, m: Int, subDim: Int, ksub: Int, k: Int): DataFrame = {
    val (codes, dt) = encode(emb, idCol, vecCol, queryMaxId, m, subDim, ksub)
    // codes and dt share one lineage: rename dt's `m` so the key is two
    // distinct columns, not a self-comparison left to the self-join rewrite
    topKByAdc(codes.join(broadcast(dt.withColumnRenamed("m", "dm")),
        col("m") === col("dm") && col("code") === col("cid"))
      .where(col("qid") =!= col("id"))
      .groupBy(col("qid"), col("id").as("nid")), k)
  }

  /** ADC distance `adist_micro2` per (qid, nid) group of code-matched
    * distance-table rows, the k nearest per qid (ties → lowest nid).
    * Output: (qid, nid, rank, adist_micro2). */
  private def topKByAdc(pairs: RelationalGroupedDataset, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("adist_micro2"), col("nid"))
    pairs.agg(sum(col("qd2q")).as("adist_micro2"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("qid", "nid", "rank", "adist_micro2")
  }

  /** IVF-PQ top-k — the production ANN composition (FAISS IndexIVFPQ
    * shape): a coarse quantizer restricts each query to its `nprobe`
    * nearest cells, and distances within the probed cells come from PQ
    * codes via ADC. The two compressions multiply: cells cut candidates
    * by ~nprobe/nCells, codes cut per-candidate cost to `m` table
    * lookups — the layout that serves billion-vector corpora.
    *
    * Plan shape: the query→cell probe table, the candidate pair table,
    * and the per-query ADC tables all BROADCAST; corpus codes and cell
    * assignments are scanned once and never shuffle for the join. The
    * candidate broadcast sizes as |Q|·nprobe·(corpus/nCells) — right for
    * the interactive few-queries case; for bulk query sets drop the
    * broadcast hint on `cand` and let the codes join shuffle on nid
    * instead. Output (qid, nid, rank, adist_micro2), ranked over the
    * probed candidates. */
  def ivfPqTopK(emb: DataFrame, idCol: Column, vecCol: Column,
                nCells: Int, nprobe: Int, queryMaxId: Long,
                m: Int, subDim: Int, ksub: Int, k: Int): DataFrame = {
    require(nprobe > 0 && nprobe <= nCells,
      s"need 0 < nprobe <= nCells, got nprobe=$nprobe nCells=$nCells")
    // coarse cells on the RAW vectors (dot-product argmax, ties → low
    // cid — the identical quantizer to Similarity.ivfTopKProbes)
    val raw = emb.select(idCol.as("id"), vecCol.cast("array<double>").as("v"))
    val cents = raw.where(col("id") < nCells)
      .select(col("id").as("ccid"), col("v").as("cv"))
    val wAssign = Window.partitionBy(col("id"))
      .orderBy(col("score").desc, col("ccid"))
    val ranked = raw.crossJoin(broadcast(cents))
      .withColumn("score",
        graft.functions.VectorExpressions.dotNative(col("v"), col("cv")))
      .withColumn("rn", row_number().over(wAssign))
    val cells = ranked.where(col("rn") === 1)
      .select(col("id").as("nid"), col("ccid").as("cell"))
    val probes = ranked.where(col("id") < queryMaxId && col("rn") <= nprobe)
      .select(col("id").as("qid"), col("ccid").as("cell"))
    // candidates: query × members of its probed cells (each corpus vector
    // lives in one cell → no duplicate pairs)
    val cand = broadcast(probes).join(cells, "cell")
      .where(col("qid") =!= col("nid"))
      .select("qid", "nid")
    val (codes, dt) = encode(emb, idCol, vecCol, queryMaxId, m, subDim, ksub)
    topKByAdc(broadcast(cand)
      .join(codes.withColumnRenamed("id", "nid"), "nid")
      .join(broadcast(dt.withColumnRenamed("cid", "code")), Seq("qid", "m", "code"))
      .groupBy("qid", "nid"), k)
  }
}
