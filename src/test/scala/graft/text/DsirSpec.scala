package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit contract for DSIR importance resampling (graft.text.Dsir):
  * feature accounting, hand-computed weights on a tiny corpus, layout
  * independence, and the target-pulls-weights-up direction on the
  * fixture. */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  test("features: unigram+bigram mass, empty docs emit nothing") {
    val docs = Seq((1L, "a b c"), (2L, ""), (3L, "   "), (4L, "solo"))
      .toDF("doc_id", "text")
    val f = Dsir.features(docs, col("doc_id"), col("text"), buckets = 64)
      .groupBy("doc_id").agg(sum("cnt").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // n tokens → n unigrams + (n−1) bigrams = 2n−1
    assert(f == Map(1L -> 5L, 4L -> 1L))
  }

  test("weights match the hand-computed smoothed log-ratio sum") {
    // 3 docs, bucket count high enough that md5 collisions are absent for
    // this 5-gram vocabulary (verified below); target = doc 1 only.
    val docs = Seq((1L, "a a", true), (2L, "a b", false), (3L, "b b", false))
      .toDF("doc_id", "text", "tgt")
    val B = 4096
    val feat = Dsir.features(docs, col("doc_id"), col("text"), B)
    val grams = Seq("a", "b", "a a", "a b", "b b")
    assert(feat.select("bucket").distinct().count() == grams.size,
      "collision-free bucket layout assumed by the hand computation")
    // corpus features per gram: a:3 b:3 "a a":1 "a b":1 "b b":1 (tr=9)
    // target (doc 1): a:2 "a a":1 (tt=3)
    def lr(ct: Long, cr: Long): Long = {
      val tt = 3L; val tr = 9L
      math.floor((math.log((ct + 1).toDouble / (tt + B)) -
        math.log((cr + 1).toDouble / (tr + B))) * 1e6 + 0.5).toLong
    }
    val exp = Map(
      1L -> (2 * lr(2, 3) + lr(1, 1)),            // a,a + "a a"
      2L -> (lr(2, 3) + lr(0, 3) + lr(0, 1)),     // a + b + "a b"
      3L -> (2 * lr(0, 3) + lr(0, 1)))            // b,b + "b b"
    val got = Dsir.weights(docs, col("doc_id"), col("text"), col("tgt"), B)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == exp)
    // the target doc must out-score the docs of target-absent grams
    assert(got(1L) > got(2L) && got(2L) > got(3L))
  }

  test("weights are layout-independent (exact integers, any partitioning)") {
    val docs = graft.Tables.documents(spark, sf).limit(120)
    def run(df: org.apache.spark.sql.DataFrame) =
      Dsir.weights(df, col("doc_id"), col("text"), col("lang") === "en", 512)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(docs) == run(docs.repartition(7)))
  }

  test("weights: broadcast and shuffle scoring branches agree bit-for-bit") {
    // drive the web-scale degradation path (Dsir.weights' broadcastCeiling)
    // on the same input: ceiling above B broadcasts the lr table, ceiling
    // below B falls back to a shuffle join on bucket — values must match
    val docs = graft.Tables.documents(spark, sf).limit(200)
    def run(ceiling: Int) =
      Dsir.weights(docs, col("doc_id"), col("text"), col("lang") === "en",
          buckets = 512, broadcastCeiling = ceiling)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaBroadcast = run(1 << 24)
    val viaShuffle = run(256) // 512 buckets > 256 ceiling → shuffle branch
    assert(viaBroadcast == viaShuffle)
    assert(viaBroadcast.nonEmpty)
    // and the plans really differ on the SCORING join (the lr-internal
    // model joins are bucket-domain-sized and may broadcast either way):
    // past the ceiling it must be a ShuffledHashJoin on bucket, never a
    // driver-sized broadcast; under it, no shuffle-hash join exists
    def planOf(ceiling: Int) =
      Dsir.weights(docs, col("doc_id"), col("text"), col("lang") === "en",
        buckets = 512, broadcastCeiling = ceiling)
        .queryExecution.executedPlan.toString
    assert(!planOf(1 << 24).contains("ShuffledHashJoin"))
    assert(planOf(256).contains("ShuffledHashJoin [bucket"),
      "past the ceiling the scoring join must degrade to a shuffle join")
    // a cached broadcast branch must not serve the shuffle branch: the
    // cache lookup ignores hints, so the plans must differ beyond them
    def weights(ceiling: Int) =
      Dsir.weights(docs, col("doc_id"), col("text"), col("lang") === "en",
        buckets = 512, broadcastCeiling = ceiling)
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val cached = weights(1 << 24).cache()
    try {
      cached.count()
      val entry = cached.queryExecution.withCachedData
        .collectFirst { case r: InMemoryRelation => r.cacheBuilder }.get
      assert(!weights(256).queryExecution.withCachedData.exists {
        case r: InMemoryRelation => r.cacheBuilder eq entry
        case _ => false
      }, "the shuffle branch read the cached broadcast branch")
    } finally cached.unpersist()
  }

  test("fixture direction: en docs average above non-en docs") {
    val docs = graft.Tables.documents(spark, sf)
    val w = Dsir.weights(docs, col("doc_id"), col("text"),
        col("lang") === "en", 4096)
      .join(docs.select("doc_id", "lang"), "doc_id")
    val Array(en, other) = w
      .groupBy((col("lang") === "en").as("is_en"))
      .agg(avg("weight_micro").as("m"))
      .orderBy(col("is_en").desc).collect().map(_.getDouble(1))
    assert(en > other)
  }
}
