package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import scala.util.Random

class QuantileSketchAggSpec extends SparkSpec {
  import spark.implicits._

  // unit-level handle on the aggregate: uid at ordinal 0, value at 1
  private def agg(k: Int) = QuantileSketchAgg(
    BoundReference(0, LongType, nullable = true),
    BoundReference(1, LongType, nullable = true), k)

  test("state is bitwise merge-tree invariant (the canonical-serialize pin)") {
    val a = agg(32)
    val rnd = new Random(7)
    val rows = (1L to 500L).map(i => (i, rnd.nextInt(10000).toLong))
    def build(parts: Seq[Seq[(Long, Long)]], mergeOrder: Seq[Int]): Array[Byte] = {
      val bufs = parts.map { p =>
        val b = a.createAggregationBuffer()
        p.foreach { case (u, v) =>
          a.update(b, new GenericInternalRow(Array[Any](u, v)))
        }
        b
      }
      val acc = a.createAggregationBuffer()
      mergeOrder.foreach(i => a.merge(acc, bufs(i)))
      a.serialize(acc)
    }
    // three partitionings × shuffled merge orders must serialize identically
    val s1 = build(rows.grouped(100).toSeq, 0 until 5)
    val s2 = build(rows.reverse.grouped(37).toSeq, Random.shuffle((0 until 14).toList))
    val s3 = build(Seq(rows), Seq(0))
    assert(java.util.Arrays.equals(s1, s2) && java.util.Arrays.equals(s2, s3),
      "bottom-k priority state must not depend on partitioning or merge order")
    // round-trip: deserialize(serialize(x)) evals identically
    val out1 = a.eval(a.deserialize(s1))
    val out3 = a.eval(a.deserialize(s3))
    assert(out1 == out3)
  }

  test("groups at or below k are EXACT: sketch quantiles == sorted-rank reads") {
    val rnd = new Random(11)
    val vals = (1L to 200L).map(i => (i, rnd.nextInt(100000).toLong))
    vals.toDF("uid", "v").createOrReplaceTempView("qs_small")
    val row = spark.sql(
      "SELECT graft_quantile_sketch(uid, v, 256) AS q FROM qs_small")
      .select("q.*").as[(Long, Long, Long, Long, Long, Long, Long)].head()
    val sorted = vals.map(_._2).sorted
    def exact(p: Long) = sorted((((sorted.size - 1).toLong * p) / 100L).toInt)
    assert(row == ((200L, exact(10), exact(25), exact(50), exact(75),
      exact(90), exact(99))))
  }

  test("partition-layout invariance through real partial aggregation") {
    val vals = (1L to 5000L).map(i => (i, (i * 48271L) % 100000L))
    vals.toDF("uid", "v").coalesce(1).createOrReplaceTempView("qs_one")
    vals.toDF("uid", "v").repartition(32).createOrReplaceTempView("qs_many")
    val a = spark.sql("SELECT graft_quantile_sketch(uid, v, 128) AS q FROM qs_one")
      .select("q.*").collect().head
    val b = spark.sql("SELECT graft_quantile_sketch(uid, v, 128) AS q FROM qs_many")
      .select("q.*").collect().head
    assert(a == b, "sample must be a pure function of the input set")
  }

  test("JVM priority == the SQL md5 path (the cross-engine hash contract)") {
    // the sample the aggregate keeps at k=8 is exactly the bottom-8 uids
    // by the conv(substring(md5(uid),1,13),16,10) priority Spark computes
    val uids = (1L to 100L)
    val sample = uids.map(Tuple1(_)).toDF("uid")
      .select(col("uid"),
        conv(substring(md5(col("uid").cast("string")), 1, 13), 16, 10)
          .cast("long").as("p"))
      .orderBy("p", "uid").limit(8)
      .select("uid").as[Long].collect().sorted
    def at(p: Long) = sample((((sample.length - 1).toLong * p) / 100L).toInt)
    // mirror with the aggregate: value = uid, so every quantile read must
    // come from the identical 8-uid sample
    uids.map(i => (i, i)).toDF("uid", "v").createOrReplaceTempView("qs_hash")
    val viaAgg = spark.sql(
      "SELECT graft_quantile_sketch(uid, v, 8) AS q FROM qs_hash")
      .select("q.*").as[(Long, Long, Long, Long, Long, Long, Long)].head()
    assert(viaAgg == ((8L, at(10), at(25), at(50), at(75), at(90), at(99))))
  }

  test("GROUP BY cohort sketching and null handling") {
    val rows = (1L to 300L).map(i => (s"g${i % 3}", i, i * 3L)) :+
      (("g0", 9999L, -1L))
    rows.toDF("g", "uid", "v")
      .withColumn("v", when(col("uid") === 9999L, lit(null)).otherwise(col("v")))
      .createOrReplaceTempView("qs_groups")
    val out = spark.sql(
      """SELECT g, q.n_sample FROM
         (SELECT g, graft_quantile_sketch(uid, v, 512) AS q
          FROM qs_groups GROUP BY g) ORDER BY g""")
      .as[(String, Long)].collect()
    assert(out.toSeq == Seq(("g0", 100L), ("g1", 100L), ("g2", 100L)),
      "null values must be skipped, groups sketched independently")
  }
}
