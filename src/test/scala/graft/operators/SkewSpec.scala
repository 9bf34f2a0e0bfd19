package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Salted aggregation contract: two-phase results equal single-phase
  * exactly, for counts and integer-exact sums. */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ev = graft.Tables.events(spark, sf).cache()

  test("saltedCount equals plain groupBy count for every key and bucket size") {
    val plain = ev.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    for (buckets <- Seq(1, 4, 32)) {
      val salted = Skew.saltedCount(ev, col("event_type"), Seq(col("event_id")), buckets)
        .as[(String, Long)].collect().toMap
      assert(salted == plain, s"buckets=$buckets")
    }
  }

  test("saltedJoin is row-identical to the plain join on a skewed fixture") {
    // 90% of left rows share key 1 — the shape salting exists for
    val left = (1L to 1000L).map(i => (if (i <= 900) 1L else i, i))
      .toDF("k", "lid")
    val right = Seq((1L, "hot"), (950L, "cold"), (2000L, "unmatched"))
      .toDF("k", "tag")
    val plain = left.join(right, Seq("k"), "inner")
      .select("lid", "tag").as[(Long, String)].collect().sorted.toSeq
    for (buckets <- Seq(1, 7, 16)) {
      val salted = Skew.saltedJoin(left, right, "k", Seq(col("lid")), buckets)
        .select("lid", "tag").as[(Long, String)].collect().sorted.toSeq
      assert(salted == plain, s"buckets=$buckets")
    }
  }

  test("saltedJoin rejects reserved names") {
    val df = Seq((1L, 2L)).toDF("k", "v")
    val bad = Seq((1L, 0L)).toDF("k", "__salt")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(bad, df, "k", Seq(col("k")), 4)
    }
  }
}
