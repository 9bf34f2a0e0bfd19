package graft.multimodal

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Dataset}

/** Typed metadata travelling with every media payload. Field names are the
  * output column names (encoder binds by name). */
final case class MediaMeta(
    media_type: String,   // image | audio | video
    format: String,       // jpeg | wav | mp4 (fake but typed)
    width_px: Int,
    height_px: Int,
    duration_ms: Long,
    sample_rate_hz: Int)

/** One media row: opaque binary payload + typed metadata. */
final case class MediaRecord(media_id: Long, meta: MediaMeta, payload: Array[Byte])

/** Decoded image features (stub decode — see [[Multimodal.decodeImageFeatures]]). */
final case class ImageFeatures(media_id: Long, n_bytes: Long, mean_byte: Double, phash16: Long)

/** Multimodal-column operators: image/audio/video as opaque `binary`
  * columns with a typed metadata struct (builder-prompt extension surface).
  *
  * The design contract at 100 TB: payloads stay opaque bytes inside the
  * engine (never parsed by Catalyst), metadata is a first-class struct that
  * filters/prunes like any column, and per-item decode runs as typed
  * `mapPartitions` — Spark's per-partition batch path (the JVM analogue of
  * a vectorized Python `mapInPandas` stage), which keeps decode streaming,
  * spill-free, and partition-parallel. Frame sampling and resizing are
  * declarative (`sequence`/`explode`, integer math), so Catalyst still sees
  * them.
  *
  * This container has no media codecs, so the decode body is a STUB that
  * derives features deterministically from the raw payload bytes — the
  * schema, encoders, partitioning, and batch shape are the real plumbing
  * and are what the tests/oracles verify.
  */
object Multimodal {

  /** PGM (P5) header for the synthetic 4×4 grayscale payloads. */
  private val PgmHeader = "P5\n4 4\n255\n"

  /** Deterministic synthetic media table over `documents`: the payload is
    * a REAL binary image — a PGM (P5) 4×4 grayscale file whose 16 pixel
    * bytes are `unhex(md5(text))` — so the decode stage parses an actual
    * format, not a fake. media_type cycles image/audio/video by id,
    * dimensions/duration derive from id and n_chars. `payload_md5`
    * carries the lowercase pixel hex for portable key derivation (Spark's
    * `hex()` is uppercase). */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      struct(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        element_at(array(lit("pgm"), lit("wav"), lit("mp4")),
          (col("doc_id") % 3 + 1).cast("int")).as("format"),
        (lit(16) + (col("doc_id") % 16) * 8).cast("int").as("width_px"),
        (lit(16) + (col("doc_id") % 8) * 8).cast("int").as("height_px"),
        (col("n_chars") * 40).cast("long").as("duration_ms"),
        lit(16000).as("sample_rate_hz")).as("meta"),
      concat(lit(PgmHeader.getBytes("US-ASCII")),
        unhex(md5(col("text")))).as("payload"),
      md5(col("text")).as("payload_md5"))

  /** Narrow a media DataFrame to the typed record shape. */
  def asRecords(media: DataFrame): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "meta", "payload").as[MediaRecord]
  }

  /** Per-item image decode + feature extraction via typed mapPartitions:
    * a real, dependency-free PGM (P5) parser — reads the magic, dimensions
    * and maxval from the ASCII header, then the raw grayscale pixels —
    * followed by pixel-level features (mean luma, 16-bit threshold
    * signature). Swapping in a JPEG/PNG codec changes only the parser
    * body; the per-partition iterator shape (open codec once per
    * partition, stream items, bounded memory) is the production decode
    * stage. Malformed payloads raise — corrupt media must fail loudly,
    * not produce silent features. */
  def decodeImageFeatures(media: Dataset[MediaRecord]): Dataset[ImageFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // per-partition setup: a heavier codec would initialize once here
      it.map { r =>
        val (pixels, _, _) = decodePgm(r.payload)
        val vals = pixels.map(b => (b & 0xff).toLong)
        val mean = vals.sum.toDouble / vals.length
        val phash = vals.take(16).zipWithIndex
          .map { case (v, i) => if (v > 127) 1L << i else 0L }.sum
        ImageFeatures(r.media_id, vals.length.toLong, mean, phash)
      }
    }
  }

  /** Minimal PGM (P5, single-byte maxval) decoder: returns (pixels, width,
    * height). Whitespace-separated ASCII header, then width·height raw
    * bytes. */
  private[multimodal] def decodePgm(bytes: Array[Byte]): (Array[Byte], Int, Int) = {
    var pos = 0
    def token(): String = {
      while (pos < bytes.length && bytes(pos).toChar.isWhitespace) pos += 1
      val start = pos
      while (pos < bytes.length && !bytes(pos).toChar.isWhitespace) pos += 1
      new String(bytes, start, pos - start, "US-ASCII")
    }
    require(token() == "P5", "not a P5 PGM payload")
    val (w, h, maxVal) = (token().toInt, token().toInt, token().toInt)
    require(maxVal >= 1 && maxVal <= 255, s"unsupported maxval $maxVal")
    pos += 1 // single whitespace after maxval, per spec
    require(bytes.length - pos >= w * h, "truncated PGM pixel data")
    (bytes.slice(pos, pos + w * h), w, h)
  }

  /** Declarative frame sampling for video rows: one frame per second,
    * capped at `maxFrames`, each frame keyed by a deterministic digest of
    * (payload, frame index). `sequence` + `explode` keep this inside
    * Catalyst — no UDF, no driver loop. */
  def sampleFrames(media: DataFrame, maxFrames: Int): DataFrame =
    media.where(col("meta.media_type") === "video")
      .select(col("media_id"), col("payload_md5"),
        explode(sequence(lit(0L),
          least(floor(col("meta.duration_ms") / 1000.0).cast("long"),
            lit(maxFrames.toLong - 1)))).as("frame_idx"))
      .select(col("media_id"), col("frame_idx"),
        md5(concat(col("payload_md5"), lit(":"),
          col("frame_idx").cast("string"))).as("frame_key"))

  /** Scene-change detection over sampled frames: consecutive frames whose
    * signatures differ by more than `threshold` of a 64-bit signature's
    * bits mark a boundary. The signature here is the first 16 hex chars of
    * the frame key (the stub codec's stand-in for a real frame phash —
    * a production pipeline swaps the signature source, the lag-window
    * shape is the operator). One window partitioned by media_id: scale is
    * #videos × frames-per-video, no self-join. */
  def sceneChanges(media: DataFrame, maxFrames: Int, threshold: Int): DataFrame = {
    require(threshold >= 0 && threshold <= 60, s"threshold in [0,60], got $threshold")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_idx")
    sampleFrames(media, maxFrames)
      // 15 hex chars = 60 bits — fits a signed long on both engines
      // (the shared md5-prefix discipline from SimHash)
      .withColumn("sig", conv(substring(col("frame_key"), 1, 15), 16, 10)
        .cast("long"))
      .withColumn("prev_sig", lag(col("sig"), 1).over(w))
      .where(col("prev_sig").isNotNull)
      .withColumn("delta_bits",
        bit_count(col("sig").bitwiseXOR(col("prev_sig"))).cast("long"))
      .where(col("delta_bits") > threshold)
      .select(col("media_id"), col("frame_idx").as("boundary_frame"),
        col("delta_bits"))
  }

  /** Declarative audio windowing for audio rows: fixed-length analysis
    * windows (`windowMs` each), one row per window with its sample offset
    * — the framing stage ahead of any feature extractor (STFT, MFCC, …),
    * which would run in the decode mapPartitions stage. */
  def audioWindows(media: DataFrame, windowMs: Long): DataFrame =
    media.where(col("meta.media_type") === "audio")
      .select(col("media_id"), col("meta.duration_ms").as("duration_ms"),
        col("meta.sample_rate_hz").as("sample_rate_hz"),
        explode(sequence(lit(0L),
          greatest(ceil(col("meta.duration_ms").cast("double") / windowMs)
            .cast("long") - 1, lit(0L)))).as("window_idx"))
      .select(col("media_id"), col("window_idx"),
        (col("window_idx") * windowMs).as("start_ms"),
        floor(col("window_idx") * windowMs / 1000.0 *
          col("sample_rate_hz").cast("double")).cast("long").as("start_sample"))

  /** Byte `i` (0 until 16) of the decoded payload as a long: the i-th
    * hex pair of `payload_md5` (payload = unhex(md5)), the pixel or
    * sample the declarative media operators read. */
  def payloadByte(i: Int): Column =
    conv(substring(col("payload_md5"), 2 * i + 1, 2), 16, 10).cast("long")

  /** DuckDB oracle twin for [[payloadByte]]: all 16 payload bytes as a
    * BIGINT list, parsed from the md5 hex `hex`. */
  def sqlPayloadBytes(hex: String): String =
    s"""list_transform(range(0, 16),
                     i -> CAST('0x' || substr($hex, 2*i + 1, 2) AS BIGINT))"""

  /** ViT-style patch statistics over the 4×4 synthetic grayscale image:
    * 2×2 patches (4 per image) with integer pixel sums. Fully declarative
    * — the pixel-index → patch-index algebra runs in Catalyst over the
    * hex-encoded pixels (`payload_md5`), demonstrating that after the one
    * imperative decode stage, patch extraction needs no UDF. Patch p
    * covers rows [2·(p/2), +2) × cols [2·(p%2), +2) of the row-major
    * grid. */
  def patchSums(media: DataFrame): DataFrame = {
    val patches = array((0 until 4).map { p =>
      val (pr, pc) = (p / 2, p % 2)
      val sum = (for { dr <- 0 to 1; dc <- 0 to 1 }
        yield payloadByte((2 * pr + dr) * 4 + 2 * pc + dc)).reduce(_ + _)
      struct(lit(p.toLong).as("patch_idx"), sum.as("patch_sum"))
    }: _*)
    media.where(col("meta.media_type") === "image")
      .select(col("media_id"), explode(patches).as("p"))
      .select(col("media_id"), col("p.patch_idx").as("patch_idx"),
        col("p.patch_sum").as("patch_sum"))
  }

  /** Metadata-level resize for image rows: fixed target width, height
    * scaled to preserve aspect ratio (integer floor division, min 1).
    * Payload re-encoding would happen in the decode stage; the metadata
    * transform is declarative. */
  /** 16-bit perceptual hash (pHash-style, threshold-at-mean): bit i is set
    * iff pixel i exceeds the image mean — compared as `px·16 > total` so
    * everything stays integral (no division, no rounding edge). Two images
    * whose pixel patterns agree above/below their own means collide
    * regardless of global brightness — the invariance that makes pHash a
    * dedup key where raw-byte md5 is not. */
  def phash(media: DataFrame): DataFrame =
    meanThresholdHash(media, (0 until 16).map(payloadByte))

  /** Per image, the threshold-at-mean hash of 16 pixels: bit i is set iff
    * `pixels(i)`·16 > the pixel total. */
  private def meanThresholdHash(media: DataFrame,
                                pixels: Seq[Column]): DataFrame = {
    val total = pixels.reduce(_ + _)
    val bits = (0 until 16).map(i =>
      when(pixels(i) * 16 > total, lit(1L << i)).otherwise(lit(0L)))
    media.where(col("meta.media_type") === "image")
      .select(col("media_id"), bits.reduce(_ + _).as("phash"))
  }

  /** DuckDB oracle twin for [[meanThresholdHash]] over the columns `bytes`
    * and `total`, pixel i read as the SQL expression `px`. */
  def sqlMeanThresholdHash(px: String = "bytes[i+1]"): String =
    s"""CAST(list_reduce(list_prepend(0::BIGINT,
                     [CASE WHEN $px * 16 > total THEN (1::BIGINT << i)
                           ELSE 0::BIGINT END for i in range(0, 16)]),
                     (a, b) -> a + b) AS BIGINT)"""

  /** Per-image exposure audit from the decoded pixel grid: counts of
    * pixels below `lo` (shadows) and at/above `hi` (highlights), the
    * dynamic range (max − min), and a quality flag — `under`/`over` when
    * at least half the pixels clip, else `ok`. Pure integral Column
    * algebra over the decoded bytes; the kind of filter a multimodal
    * curation funnel applies before expensive feature extraction. */
  def exposure(media: DataFrame, lo: Int, hi: Int): DataFrame = {
    val pixels = (0 until 16).map(payloadByte)
    val nDark = pixels.map(p => when(p < lo, lit(1L)).otherwise(lit(0L))).reduce(_ + _)
    val nBright = pixels.map(p => when(p >= hi, lit(1L)).otherwise(lit(0L))).reduce(_ + _)
    media.where(col("meta.media_type") === "image")
      .select(col("media_id"), nDark.as("n_dark"), nBright.as("n_bright"),
        (greatest(pixels: _*) - least(pixels: _*)).as("dyn_range"))
      .withColumn("exposure",
        when(col("n_dark") >= 8, lit("under"))
          .when(col("n_bright") >= 8, lit("over"))
          .otherwise(lit("ok")))
  }

  /** Near-duplicate image pairs by pHash Hamming distance ≤ `maxHamming`,
    * candidates via 4-bit nibble banding: ≤ 3 corrupted bits hit ≤ 3 of
    * the 4 nibbles, leaving ≥ 1 intact — full recall for Hamming ≤ 3 by
    * pigeonhole, with candidate volume O(images · 4 / 16-bucket) instead
    * of all pairs. Same banding discipline as the SimHash text pairs. */
  def phashPairs(sig: DataFrame, maxHamming: Int): DataFrame = {
    val c = chunks(sig)
    hammingPairs(c, c, maxHamming)
  }

  /** (media_id, phash, c, v): one row per 4-bit nibble `v` at position `c`
    * of each phash — the banding keys of [[phashPairs]]. Keyed pin: the
    * signature table is media-count-sized (tiny → AQE would run the whole
    * n²/bucket fan-out in 1-2 tasks); (c, v) is a 64-value uniform band
    * domain (hash bits), safe to pin without AQE skew-splitting — see
    * [[graft.operators.Fanout]]. */
  private def chunks(sig: DataFrame): DataFrame =
    graft.operators.Fanout.pin(
      sig.select(col("media_id"), col("phash"),
          explode(array((0 until 4).map(c => struct(lit(c).as("c"),
            shiftright(col("phash"), 4 * c).bitwiseAND(lit(15L)).as("v"))): _*)).as("ch"))
        .select(col("media_id"), col("phash"), col("ch.c").as("c"), col("ch.v").as("v")),
      col("c"), col("v"))

  /** Pairs of [[chunks]] rows a → b sharing a nibble, distinct ids
    * directed a < b, kept when the exact Hamming distance `ham` of their
    * phashes is ≤ `maxHamming`. */
  private def hammingPairs(a: DataFrame, b: DataFrame,
                           maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      "1-of-4-nibble banding guarantees full recall only for Hamming <= 3")
    a.as("a").join(b.as("b"),
        col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("ida"), col("b.media_id").as("idb"),
        col("a.phash").as("pa"), col("b.phash").as("pb"))
      .distinct()
      .withColumn("ham", bit_count(col("pa").bitwiseXOR(col("pb"))).cast("long"))
      .where(col("ham") <= maxHamming)
      .select("ida", "idb", "ham")
  }

  /** pHash of the horizontally MIRRORED pixel grid ((r,c) → (r, 3−c)):
    * joined against [[phash]] it finds flip-duplicates — the common
    * image-dedup evasion a plain perceptual hash misses. Same
    * threshold-at-mean bit rule, so a mirrored copy's mirror-hash equals
    * the original's plain hash exactly. */
  def phashMirrored(media: DataFrame): DataFrame =
    meanThresholdHash(media,
      (0 until 16).map(i => payloadByte(4 * (i / 4) + (3 - i % 4))))

  /** Banded near-match between two signature tables (each (media_id,
    * phash)): same 1-of-4-nibble candidate rule as [[phashPairs]], exact
    * Hamming verify, pairs directed a→b with distinct ids. */
  def phashPairsAcross(sigA: DataFrame, sigB: DataFrame,
                       maxHamming: Int): DataFrame =
    hammingPairs(chunks(sigA), chunks(sigB), maxHamming)

  /** Haitsma–Kalker-style audio fingerprint over the decoded byte series:
    * bit i = 1 iff energy(i+1) > energy(i) — the delta-sign bits that
    * survive volume scaling and mild noise, here over the 16 synthetic
    * "frame energy" bytes (15 bits). Pure integral Column algebra after
    * decode, same discipline as [[phash]]; band-joinable with
    * [[phashPairs]] (15 ≤ 16 bits, nibble banding unchanged). */
  def audioFingerprint(media: DataFrame): DataFrame = {
    val bits = (0 until 15).map(i =>
      when(payloadByte(i + 1) > payloadByte(i), lit(1L << i)).otherwise(lit(0L)))
    media.where(col("meta.media_type") === "audio")
      .select(col("media_id"), bits.reduce(_ + _).as("phash"))
  }

  def resizeMeta(media: DataFrame, targetWidth: Int): DataFrame =
    media.where(col("meta.media_type") === "image")
      .select(col("media_id"),
        col("meta.width_px").cast("long").as("width_px"),
        col("meta.height_px").cast("long").as("height_px"),
        lit(targetWidth.toLong).as("new_width_px"),
        greatest(lit(1L),
          floor((col("meta.height_px").cast("double") * targetWidth) /
            col("meta.width_px").cast("double")).cast("long")).as("new_height_px"))
}
