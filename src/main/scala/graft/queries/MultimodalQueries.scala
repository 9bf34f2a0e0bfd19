package graft.queries

import graft.Tables
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.payloadByte
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-verifiable queries for the multimodal extension
  * (graft.multimodal.Multimodal). The media table derives deterministically
  * from `documents` (payload = unhex(md5(text))), so DuckDB mirrors the
  * byte-level features by parsing md5 hex pairs — the binary plumbing on
  * the Spark side is real, the oracle arithmetic is identical.
  */
object MultimodalQueries {

  private def media(s: SparkSession, d: String): DataFrame =
    Multimodal.mediaTable(Tables.documents(s, d))

  /** Memoized image near-dup components (min-label over the verified
    * phash pair graph) — q_mm_phash_clusters and the cross-modal
    * consistency join read the identical table.
    *
    * Bounded at [[ClusterSteps]] synchronous min-label rounds (r9 verdict
    * #4): the oracle replays the IDENTICAL round budget at the distinct-
    * phash-value level (provably the same labels per round — images
    * sharing a hash have identical neighborhoods after round 1), so the
    * gate is well-defined even on the sf1mut fixture whose saturated
    * 16-bit domain collapses into one giant component where the old
    * reachability oracle was quadratic. 14 steps cover convergence with
    * margin: the SATURATED value graph at Hamming ≤ 3 has min-id
    * eccentricity ≤ ⌈16/3⌉ + 1 = 7, while SPARSE fixtures form chain
    * components — measured convergence round per fixture: sf0.01 = 13,
    * sf0.1 = 5, sf1 = 5, sf1mut = 6 (DuckDB lR = lR+1 sweep, round 10).
    * If a future fixture exceeded the budget, the gate would still be
    * well-defined (both engines run the identical capped recursion) —
    * only the "labels = true components" reading would need a bigger
    * budget. */
  private[queries] val ClusterSteps = 14
  private def phashClusterTable(s: SparkSession, d: String): DataFrame =
    QueryCaches.memo(s, d, "phash_cluster_table") {
      graft.dedup.Dedup.duplicateClusters(
        Multimodal.phashPairs(Multimodal.phash(media(s, d)), 3),
        col("ida"), col("idb"), maxSteps = ClusterSteps)
    }

  /** payload bytes as BIGINTs, parsed from the md5 hex (payload = unhex(md5)). */
  private val bytesCte =
    """WITH m AS (
         SELECT doc_id AS media_id, md5(text) AS h, n_chars,
                (['image','audio','video'])[(doc_id % 3) + 1] AS media_type,
                CAST(16 + (doc_id % 16) * 8 AS BIGINT) AS width_px,
                CAST(16 + (doc_id % 8) * 8 AS BIGINT) AS height_px,
                CAST(n_chars * 40 AS BIGINT) AS duration_ms
         FROM documents)"""

  /** `f(media_id, h, frame_idx)` over [[bytesCte]]'s `m`: the frames
    * `Multimodal.sampleFrames(_, 8)` keeps of each video. */
  private val framesCte =
    """v AS (SELECT media_id, h, duration_ms FROM m WHERE media_type = 'video'),
          f AS (
            SELECT media_id, h,
                   unnest(range(0, least(CAST(floor(duration_ms / 1000.0) AS BIGINT), 7) + 1))
                     AS frame_idx
            FROM v)"""

  /** `${p}b(media_id, bytes)`: the payload bytes of the `mediaType` rows
    * of `from`. */
  private def bytesOf(mediaType: String, p: String = "",
                      from: String = "m"): String =
    s"""${p}b AS (
            SELECT media_id, ${Multimodal.sqlPayloadBytes("h")} AS bytes
            FROM $from WHERE media_type = '$mediaType')"""

  /** `${p}b` over the image rows of `from`, then `${p}t(media_id, bytes,
    * total)` adding the pixel total the threshold-at-mean hash compares
    * against. */
  private def imageTotalsCtes(p: String = "", from: String = "m"): String =
    s"""${bytesOf("image", p, from)},
          ${p}t AS (
            SELECT media_id, bytes,
                   list_reduce(list_prepend(0::BIGINT, bytes), (a, b) -> a + b) AS total
            FROM ${p}b)"""

  /** [[imageTotalsCtes]] + `${p}ph(media_id, phash)`: the twin of
    * Multimodal.phash. */
  private def phashCtes(p: String = "", from: String = "m"): String =
    s"""${imageTotalsCtes(p, from)},
          ${p}ph AS (
            SELECT media_id, ${Multimodal.sqlMeanThresholdHash()} AS phash
            FROM ${p}t)"""

  /** Bounded-round min-label CTE chain over distinct pHash VALUES — the
    * oracle twin of [[phashClusterTable]]'s capped propagation. Expects a
    * `${p}vals(v, cnt, minid)` CTE upstream; emits `${p}l0..l$rounds`
    * where `${p}lR` is the label table after R synchronous rounds.
    *
    * Two scale moves vs the retired reachability oracle (which was
    * quadratic in component size — 10^8+ reach rows under sf1mut's
    * saturated domain): (1) neighbor edges are generated CONSTRUCTIVELY
    * (v XOR m for the 696 popcount ≤ 3 masks, equi-joined against
    * present values — the computed key hoisted into its own MATERIALIZED
    * CTE per the DuckDB join-probe rule) instead of an all-pairs
    * bit_count filter; (2) state per round is one label row per value,
    * so total work is rounds·|edges|, never |component|². Round
    * semantics match the engine exactly: label_{r+1}(v) = min(label_r(v),
    * min over Hamming ≤ 3 neighbors) with cluster seeds = per-value min
    * media_id, and eligibility = values with a neighbor or ≥ 2 images
    * (the engine's "appears in some pair" rule). */
  private def minLabelCtes(p: String, rounds: Int): String = {
    val base = s"""${p}masks AS (SELECT m FROM range(1, 65536) tm(m)
                   WHERE bit_count(m) <= 3),
          ${p}probe AS MATERIALIZED (
            SELECT a.v AS x, xor(a.v, CAST(m AS BIGINT)) AS y
            FROM ${p}vals a, ${p}masks),
          ${p}nb AS MATERIALIZED (
            SELECT pr.x, pr.y FROM ${p}probe pr JOIN ${p}vals b ON b.v = pr.y),
          ${p}deg AS (SELECT x AS v, count(*) AS dg FROM ${p}nb GROUP BY 1),
          ${p}l0 AS MATERIALIZED (
            SELECT v.v AS id, v.minid AS label
            FROM ${p}vals v LEFT JOIN ${p}deg d ON d.v = v.v
            WHERE v.cnt >= 2 OR d.dg IS NOT NULL)"""
    val rs = (1 to rounds).map { r =>
      s"""${p}l$r AS MATERIALIZED (
            SELECT id, min(lbl) AS label FROM (
              SELECT id, label AS lbl FROM ${p}l${r - 1}
              UNION ALL
              SELECT nb.x AS id, l.label AS lbl
              FROM ${p}nb nb JOIN ${p}l${r - 1} l ON l.id = nb.y
            ) u GROUP BY id)"""
    }
    (base +: rs).mkString(",\n          ")
  }

  val registry: Seq[Q] = Seq(
    // typed mapPartitions decode (stub codec) → per-item features
    Q("q_mm_decode_features", (s, d) =>
      Multimodal.decodeImageFeatures(Multimodal.asRecords(media(s, d)))
        .toDF().orderBy("media_id"),
      s"""$bytesCte,
          b AS (
            SELECT media_id,
                   ${Multimodal.sqlPayloadBytes("h")} AS bytes
            FROM m)
          SELECT media_id,
                 CAST(16 AS BIGINT) AS n_bytes,
                 CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), bytes),
                      (a, x) -> a + x) AS DOUBLE) / 16.0 AS mean_byte,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(0, 16),
                     i -> CASE WHEN bytes[i+1] > 127 THEN 1::BIGINT << i
                               ELSE 0::BIGINT END)),
                   (a, x) -> a + x) AS phash16
          FROM b ORDER BY media_id"""),

    // declarative 1-fps frame sampling with deterministic frame keys
    Q("q_mm_frame_sample", (s, d) =>
      Multimodal.sampleFrames(media(s, d), 8).orderBy("media_id", "frame_idx"),
      s"""$bytesCte,
          $framesCte
          SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                 md5(h || ':' || CAST(frame_idx AS VARCHAR)) AS frame_key
          FROM f ORDER BY media_id, frame_idx"""),

    // metadata-level aspect-preserving resize
    Q("q_mm_resize_meta", (s, d) =>
      Multimodal.resizeMeta(media(s, d), 64).orderBy("media_id"),
      s"""$bytesCte
          SELECT media_id, width_px, height_px,
                 CAST(64 AS BIGINT) AS new_width_px,
                 greatest(CAST(1 AS BIGINT),
                   CAST(floor(CAST(height_px * 64 AS DOUBLE) / CAST(width_px AS DOUBLE))
                     AS BIGINT)) AS new_height_px
          FROM m WHERE media_type = 'image' ORDER BY media_id"""),

    // declarative 1s audio analysis windows with sample offsets
    Q("q_mm_audio_windows", (s, d) =>
      Multimodal.audioWindows(media(s, d), 1000)
        .orderBy("media_id", "window_idx"),
      s"""$bytesCte,
          a AS (SELECT media_id, duration_ms FROM m WHERE media_type = 'audio'),
          w AS (
            SELECT media_id,
                   unnest(range(0,
                     greatest(CAST(ceil(CAST(duration_ms AS DOUBLE) / 1000) AS BIGINT) - 1,
                              0) + 1)) AS window_idx
            FROM a)
          SELECT media_id, CAST(window_idx AS BIGINT) AS window_idx,
                 CAST(window_idx * 1000 AS BIGINT) AS start_ms,
                 CAST(floor(window_idx * 1000 / 1000.0 * 16000.0) AS BIGINT) AS start_sample
          FROM w ORDER BY media_id, window_idx"""),

    // declarative ViT-style 2×2 patch sums over the 4×4 grayscale pixels
    Q("q_mm_patches", (s, d) =>
      Multimodal.patchSums(media(s, d))
        .orderBy("media_id", "patch_idx"),
      s"""$bytesCte,
          ${bytesOf("image")},
          p AS (
            SELECT media_id, pi,
                   bytes[((pi // 2) * 2 + 0) * 4 + (pi % 2) * 2 + 0 + 1]
                 + bytes[((pi // 2) * 2 + 0) * 4 + (pi % 2) * 2 + 1 + 1]
                 + bytes[((pi // 2) * 2 + 1) * 4 + (pi % 2) * 2 + 0 + 1]
                 + bytes[((pi // 2) * 2 + 1) * 4 + (pi % 2) * 2 + 1 + 1] AS psum
            FROM b, range(0, 4) t(pi))
          SELECT media_id, CAST(pi AS BIGINT) AS patch_idx,
                 CAST(psum AS BIGINT) AS patch_sum
          FROM p ORDER BY media_id, patch_idx"""),

    // 16-bit threshold-at-mean perceptual hash per image (integral compare
    // px·16 > total — no division edge)
    Q("q_mm_phash", (s, d) =>
      Multimodal.phash(media(s, d)).orderBy("media_id"),
      s"""$bytesCte,
          ${imageTotalsCtes()}
          SELECT media_id,
                 ${Multimodal.sqlMeanThresholdHash()} AS phash
          FROM t ORDER BY media_id"""),

    // near-dup image pairs: nibble-banded candidates + exact Hamming ≤ 3
    // verify (full recall by pigeonhole; oracle checks ALL pairs — set
    // equality proves the banding lost nothing)
    Q("q_mm_phash_pairs", (s, d) =>
      Multimodal.phashPairs(Multimodal.phash(media(s, d)), 3)
        .orderBy("ida", "idb"),
      s"""$bytesCte,
          ${phashCtes()}
          SELECT a.media_id AS ida, b.media_id AS idb,
                 CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS ham
          FROM ph a JOIN ph b ON a.media_id < b.media_id
          WHERE bit_count(xor(a.phash, b.phash)) <= 3
          ORDER BY ida, idb"""),

    // flip-duplicate candidates: original pHash banded against the
    // MIRRORED-grid pHash — catches horizontally flipped copies a plain
    // perceptual hash misses; same nibble banding + exact Hamming verify,
    // all-pairs oracle proves recall on the cross table too
    Q("q_mm_phash_mirror_pairs", (s, d) =>
      Multimodal.phashPairsAcross(
          Multimodal.phash(media(s, d)),
          Multimodal.phashMirrored(media(s, d)), 3)
        .orderBy("ida", "idb"),
      s"""$bytesCte,
          ${phashCtes()},
          mi AS (
            SELECT media_id,
                   ${Multimodal.sqlMeanThresholdHash(
                     "bytes[(i // 4) * 4 + (3 - i % 4) + 1]")} AS mhash
            FROM t)
          SELECT a.media_id AS ida, b.media_id AS idb,
                 CAST(bit_count(xor(a.phash, b.mhash)) AS BIGINT) AS ham
          FROM ph a JOIN mi b ON a.media_id < b.media_id
          WHERE bit_count(xor(a.phash, b.mhash)) <= 3
          ORDER BY ida, idb"""),

    // tonal-diversity entropy per image: 4-level histogram of the decoded
    // pixels, H in integer micro-nats — flat/posterized images score low,
    // the complement of the exposure clip audit. ln runs over the fixed
    // 16-value input set {ln(16/c)} (audited boundary margins), then
    // everything is integer. Map-side level extraction (shiftright), one
    // (media, level) aggregate
    Q("q_mm_image_entropy", (s, d) => {
      media(s, d).where(col("meta.media_type") === "image")
        .select(col("media_id"), explode(array(
          (0 until 16).map(i => shiftright(payloadByte(i), 6)): _*)).as("lvl"))
        .groupBy(col("media_id"), col("lvl")).agg(count(lit(1)).as("c"))
        .withColumn("term", col("c") *
          floor(log(lit(16.0) / col("c").cast("double")) * 1000000.0 + 0.5)
            .cast("long"))
        .groupBy(col("media_id"))
        .agg(expr("sum(term) DIV 16").as("h_micro"),
          count(lit(1)).as("n_levels"))
        .orderBy("media_id")
    },
      s"""$bytesCte,
          ${bytesOf("image")},
          lv AS (SELECT media_id, unnest(bytes) // 64 AS lvl FROM b),
          c AS (SELECT media_id, lvl, CAST(count(*) AS BIGINT) AS c
                FROM lv GROUP BY 1, 2),
          tm AS (
            SELECT media_id,
                   c * CAST(floor(ln(16.0 / CAST(c AS DOUBLE)) * 1000000.0 + 0.5)
                     AS BIGINT) AS term
            FROM c)
          SELECT media_id, CAST(sum(term) // 16 AS BIGINT) AS h_micro,
                 CAST(count(*) AS BIGINT) AS n_levels
          FROM tm GROUP BY 1 ORDER BY media_id"""),

    // audio near-dup pairs: delta-sign (Haitsma–Kalker-style) fingerprints
    // matched at Hamming ≤ 3 through the SAME nibble banding as the image
    // path — one banding operator serves both modalities; the all-pairs
    // oracle again proves full recall
    Q("q_mm_audio_fp_pairs", (s, d) =>
      Multimodal.phashPairs(Multimodal.audioFingerprint(media(s, d)), 3)
        .orderBy("ida", "idb"),
      s"""$bytesCte,
          ${bytesOf("audio")},
          fp AS (
            SELECT media_id,
                   CAST(list_reduce(list_prepend(0::BIGINT,
                     [CASE WHEN bytes[i+2] > bytes[i+1] THEN (1::BIGINT << i)
                           ELSE 0::BIGINT END for i in range(0, 15)]),
                     (a, b) -> a + b) AS BIGINT) AS phash
            FROM b)
          SELECT a.media_id AS ida, b.media_id AS idb,
                 CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS ham
          FROM fp a JOIN fp b ON a.media_id < b.media_id
          WHERE bit_count(xor(a.phash, b.phash)) <= 3
          ORDER BY ida, idb"""),

    // near-dup image clusters: connected components over the verified
    // phash pair graph — "keep one per cluster" for the image modality,
    // reusing the text-dedup min-label propagation, bounded at
    // ClusterSteps rounds (oracle = the identical bounded-round chain)
    Q("q_mm_phash_clusters", (s, d) =>
      phashClusterTable(s, d)
        .select(col("doc_id").as("media_id"), col("cluster_id"))
        .orderBy("media_id"),
      // The propagation runs over DISTINCT PHASH VALUES, not images: images
      // with equal hashes are one node (Hamming 0) whose label seed is the
      // min media_id — provably the same per-round labels as the engine's
      // image-level propagation (after round 1 every image of a value
      // carries min(minid over N(v) ∪ {v}); induction in [[minLabelCtes]]'
      // Scaladoc anchor at phashClusterTable). Bounded at the engine's
      // ClusterSteps round budget, replacing the retired recursive reach
      // (quadratic in component size — infeasible on sf1mut's saturated
      // one-component domain, r9 verdict #4).
      s"""$bytesCte,
          ${phashCtes()},
          vals AS (SELECT phash AS v, CAST(count(*) AS BIGINT) AS cnt,
                          min(media_id) AS minid
                   FROM ph GROUP BY 1),
          ${minLabelCtes("", ClusterSteps)}
          SELECT ph.media_id, l$ClusterSteps.label AS cluster_id
          FROM ph JOIN l$ClusterSteps ON l$ClusterSteps.id = ph.phash
          ORDER BY 1"""),

    // cross-modal consistency join (r7 ask #7): text near-dup clusters
    // (MinHash chain) ⋈ image near-dup clusters (pHash chain) on
    // doc_id = media_id — per TEXT cluster, how many members carry an
    // image-cluster assignment and how many DISTINCT image clusters they
    // span. Text-dup docs whose images scatter across many image
    // clusters are the mislabeled/mismatched-media signal a multimodal
    // curation pipeline filters on. Both cluster tables are memoized;
    // the join is a plain equi-join on the id, aggregates on the
    // cluster key — no new shuffle shape at scale.
    Q("q_mm_crossmodal_clusters", (s, d) => {
      val txt = DedupQueries.textClusterTable(s, d)
        .select(col("cluster_id").as("text_cluster"), col("doc_id"))
      val img = phashClusterTable(s, d)
        .select(col("doc_id").as("media_id"),
          col("cluster_id").as("img_cluster"))
      txt.join(img, col("doc_id") === col("media_id"), "left")
        .groupBy(col("text_cluster"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("img_cluster")).as("n_imaged"),
          countDistinct(col("img_cluster")).as("n_img_clusters"))
        .orderBy("text_cluster")
    },
      // composed oracle: DedupQueries' text-cluster recursive chain
      // (`cl(doc_id, cluster_id)`) + an i-prefixed replay of the
      // bounded-round image-cluster chain (prefixed to dodge the text
      // chain's CTE names), joined exactly like the Spark side.
      s"""${DedupQueries.clustersCte},
          mm AS (
            SELECT doc_id AS media_id, md5(text) AS h,
                   (['image','audio','video'])[(doc_id % 3) + 1] AS media_type
            FROM documents),
          ${phashCtes("i", "mm")},
          ivals AS (SELECT phash AS v, CAST(count(*) AS BIGINT) AS cnt,
                           min(media_id) AS minid
                    FROM iph GROUP BY 1),
          ${minLabelCtes("i", ClusterSteps)},
          icl AS (SELECT iph.media_id, il$ClusterSteps.label AS cluster_id
                  FROM iph JOIN il$ClusterSteps
                    ON il$ClusterSteps.id = iph.phash),
          members AS (
            SELECT cl.cluster_id AS text_cluster, cl.doc_id,
                   icl.cluster_id AS img_cluster
            FROM cl LEFT JOIN icl ON icl.media_id = cl.doc_id)
          SELECT text_cluster, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(img_cluster) AS BIGINT) AS n_imaged,
                 CAST(count(DISTINCT img_cluster) AS BIGINT) AS n_img_clusters
          FROM members GROUP BY 1 ORDER BY text_cluster"""),

    // scene-change boundaries: lag window over per-video frame signature
    // sequences, 60-bit hamming delta over threshold → boundary
    Q("q_mm_scene_changes", (s, d) =>
      Multimodal.sceneChanges(media(s, d), 8, threshold = 25)
        .orderBy("media_id", "boundary_frame"),
      s"""$bytesCte,
          $framesCte,
          k AS (SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                       CAST('0x' || substr(md5(h || ':' || CAST(frame_idx AS VARCHAR)), 1, 15)
                         AS BIGINT) AS sig
                FROM f),
          l AS (SELECT media_id, frame_idx, sig,
                       lag(sig, 1) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev_sig
                FROM k)
          SELECT media_id, frame_idx AS boundary_frame,
                 CAST(bit_count(xor(sig, prev_sig)) AS BIGINT) AS delta_bits
          FROM l
          WHERE prev_sig IS NOT NULL AND bit_count(xor(sig, prev_sig)) > 25
          ORDER BY media_id, boundary_frame"""),

    // aspect-ratio bucketing — the multimodal-trainer batching concern
    // (same-shape images share a batch): 0.5-wide integer ratio classes,
    // one hash aggregate over metadata only (no payload decode)
    Q("q_mm_aspect_buckets", (s, d) =>
      media(s, d).where(col("meta.media_type") === "image")
        .select(col("media_id"),
          call_function("div",
            col("meta.width_px").cast("long") * 100L,
            col("meta.height_px").cast("long")).as("ratio_centi"))
        .withColumn("bucket", call_function("div", col("ratio_centi"), lit(50L)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_images"),
          min("ratio_centi").as("min_ratio_centi"),
          max("ratio_centi").as("max_ratio_centi"))
        .orderBy("bucket"),
      s"""$bytesCte,
          r AS (SELECT media_id, (width_px * 100) // height_px AS ratio_centi
                FROM m WHERE media_type = 'image')
          SELECT ratio_centi // 50 AS bucket,
                 CAST(count(*) AS BIGINT) AS n_images,
                 CAST(min(ratio_centi) AS BIGINT) AS min_ratio_centi,
                 CAST(max(ratio_centi) AS BIGINT) AS max_ratio_centi
          FROM r GROUP BY 1 ORDER BY bucket"""),

    // exposure audit: clip counts + dynamic range per image, curation
    // flag when ≥ half the pixels clip — metadata-cheap pre-filter ahead
    // of feature extraction
    Q("q_mm_exposure", (s, d) =>
      Multimodal.exposure(media(s, d), lo = 64, hi = 192)
        .orderBy("media_id"),
      s"""$bytesCte,
          ${bytesOf("image")},
          e AS (
            SELECT media_id,
                   CAST(len(list_filter(bytes, x -> x < 64)) AS BIGINT) AS n_dark,
                   CAST(len(list_filter(bytes, x -> x >= 192)) AS BIGINT) AS n_bright,
                   CAST(list_aggregate(bytes, 'max')
                        - list_aggregate(bytes, 'min') AS BIGINT) AS dyn_range
            FROM b)
          SELECT media_id, n_dark, n_bright, dyn_range,
                 CASE WHEN n_dark >= 8 THEN 'under'
                      WHEN n_bright >= 8 THEN 'over'
                      ELSE 'ok' END AS exposure
          FROM e ORDER BY media_id"""),

    // silence-run detection (gaps-and-islands over the sample stream):
    // consecutive below-threshold samples group into runs via the
    // pos − row_number() trick — one window per audio keyed on media_id,
    // no self-join, runs of any length in a single pass. The curation
    // signal: clips that are mostly silence get dropped before decode
    Q("q_mm_audio_silence", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("media_id").orderBy("pos")
      val samples = media(s, d).where(col("meta.media_type") === "audio")
        .select(col("media_id"),
          posexplode(array((0 until 16).map(payloadByte): _*)).as(Seq("pos", "amp")))
      val runs = samples.where(col("amp") < 64)
        .withColumn("grp", col("pos") - row_number().over(w))
        .groupBy(col("media_id"), col("grp"))
        .agg(count(lit(1)).as("run_len"))
      runs.groupBy("media_id")
        .agg(count(lit(1)).as("n_runs"),
          max("run_len").as("longest_run"),
          sum("run_len").as("n_silent"))
        .orderBy("media_id")
    },
      s"""$bytesCte,
          ${bytesOf("audio")},
          sm AS (
            SELECT media_id, i AS pos, bytes[i + 1] AS amp
            FROM b, range(0, 16) t(i)),
          sil AS (
            SELECT media_id, pos,
                   pos - row_number() OVER (PARTITION BY media_id
                                            ORDER BY pos) AS grp
            FROM sm WHERE amp < 64),
          runs AS (
            SELECT media_id, grp, CAST(count(*) AS BIGINT) AS run_len
            FROM sil GROUP BY 1, 2)
          SELECT media_id, CAST(count(*) AS BIGINT) AS n_runs,
                 CAST(max(run_len) AS BIGINT) AS longest_run,
                 CAST(sum(run_len) AS BIGINT) AS n_silent
          FROM runs GROUP BY 1 ORDER BY media_id"""),

    // letterbox detection: near-constant top/bottom pixel rows (the
    // black-bar artifact that wastes training pixels). Row dynamic range
    // from greatest/least over the decoded row bytes — map-side integer
    // expressions, one scan, no aggregation
    Q("q_mm_letterbox", (s, d) => {
      def rowRange(r: Int) = {
        val b = (0 to 3).map(c => payloadByte(4 * r + c))
        greatest(b: _*) - least(b: _*)
      }
      media(s, d).where(col("meta.media_type") === "image")
        .select(col("media_id"), rowRange(0).as("top_range"),
          rowRange(3).as("bottom_range"))
        .withColumn("letterboxed",
          when(col("top_range") < 32 || col("bottom_range") < 32, lit("bar"))
            .otherwise(lit("clean")))
        .orderBy("media_id")
    },
      s"""$bytesCte,
          ${bytesOf("image")},
          r AS (
            SELECT media_id,
                   CAST(greatest(bytes[1], bytes[2], bytes[3], bytes[4])
                      - least(bytes[1], bytes[2], bytes[3], bytes[4])
                     AS BIGINT) AS top_range,
                   CAST(greatest(bytes[13], bytes[14], bytes[15], bytes[16])
                      - least(bytes[13], bytes[14], bytes[15], bytes[16])
                     AS BIGINT) AS bottom_range
            FROM b)
          SELECT media_id, top_range, bottom_range,
                 CASE WHEN top_range < 32 OR bottom_range < 32 THEN 'bar'
                      ELSE 'clean' END AS letterboxed
          FROM r ORDER BY media_id"""),

    // focus/blur metric: Laplacian energy over the 4×4 pixel grid — the
    // variance-of-Laplacian sharpness test at the fixture's grid size.
    // The 4-neighbor Laplacian at each inner cell is exact integer
    // arithmetic on the decoded bytes (map-side expressions only: no
    // shuffle, no UDF), so the blur flag is bitwise across engines
    Q("q_mm_blur_energy", (s, d) => {
      val terms = for { r <- 1 to 2; c <- 1 to 2 } yield {
        val l = payloadByte(4 * r + c) * 4 - payloadByte(4 * (r - 1) + c) -
          payloadByte(4 * (r + 1) + c) - payloadByte(4 * r + c - 1) -
          payloadByte(4 * r + c + 1)
        l * l
      }
      media(s, d).where(col("meta.media_type") === "image")
        .select(col("media_id"), terms.reduce(_ + _).as("lap_energy"))
        .withColumn("focus",
          when(col("lap_energy") < 150000L, lit("blurry"))
            .otherwise(lit("sharp")))
        .orderBy("media_id")
    },
      s"""$bytesCte,
          ${bytesOf("image")},
          l AS (
            SELECT media_id,
                   CAST(
                     (4*bytes[6]  - bytes[2] - bytes[10] - bytes[5]  - bytes[7])
                   * (4*bytes[6]  - bytes[2] - bytes[10] - bytes[5]  - bytes[7])
                   + (4*bytes[7]  - bytes[3] - bytes[11] - bytes[6]  - bytes[8])
                   * (4*bytes[7]  - bytes[3] - bytes[11] - bytes[6]  - bytes[8])
                   + (4*bytes[10] - bytes[6] - bytes[14] - bytes[9]  - bytes[11])
                   * (4*bytes[10] - bytes[6] - bytes[14] - bytes[9]  - bytes[11])
                   + (4*bytes[11] - bytes[7] - bytes[15] - bytes[10] - bytes[12])
                   * (4*bytes[11] - bytes[7] - bytes[15] - bytes[10] - bytes[12])
                   AS BIGINT) AS lap_energy
            FROM b)
          SELECT media_id, lap_energy,
                 CASE WHEN lap_energy < 150000 THEN 'blurry'
                      ELSE 'sharp' END AS focus
          FROM l ORDER BY media_id""")
  )
}
