package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Executed-plan proof of the bucketing contract: a join (and an
  * aggregation) keyed on the bucket column of two same-bucketed tables
  * plans ZERO exchanges, the identical unbucketed join plans two, and
  * the two paths are value-equal. AQE off so the pins read the static
  * plan (the PlanShapeSpec discipline). */
class BucketingSpec extends SparkSpec {

  private lazy val s = {
    val ns = spark.newSession()
    ns.conf.set("spark.sql.adaptive.enabled", "false")
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    ns
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan
      .collect { case e: ShuffleExchangeExec => e }.size

  private lazy val tables: Unit = {
    val o = graft.Tables.orders(s, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val l = graft.Tables.lineitem(s, sf)
      .select(col("l_orderkey"), col("l_quantity"))
    Bucketing.writeBucketed(o, "bk_orders", "o_orderkey", 8)
    Bucketing.writeBucketed(
      l.withColumnRenamed("l_orderkey", "o_orderkey"),
      "bk_lineitem", "o_orderkey", 8)
  }

  test("same-bucketed join and keyed aggregation plan ZERO exchanges") {
    tables
    val joined = Bucketing.readBucketed(s, "bk_orders")
      .join(Bucketing.readBucketed(s, "bk_lineitem"), "o_orderkey")
    assert(shuffles(joined) == 0,
      s"bucketed join planned ${shuffles(joined)} exchanges:\n" +
        joined.queryExecution.executedPlan)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert(joined.count() > 0)
    val agg = Bucketing.readBucketed(s, "bk_lineitem")
      .groupBy("o_orderkey").agg(sum("l_quantity").as("q"))
    assert(shuffles(agg) == 0,
      s"bucketed aggregation planned ${shuffles(agg)} exchanges")
  }

  test("gated q_eng_bucketed_join plans ZERO exchanges end-to-end") {
    // the oracle-gated row itself (r11 verdict #1), pinned on the same
    // broadcast-disabled AQE-off session so zero exchanges can only come
    // from the bucketed layout: scan → SMJ → same-key agg → top-k, with
    // no ShuffleExchangeExec anywhere and no per-task sort ahead of the
    // join (the sortBy-baked buckets stream pre-sorted runs)
    val df = graft.SparkEntry.queries("q_eng_bucketed_join")(s, sf)
    assert(shuffles(df) == 0,
      s"gated bucketed join planned ${shuffles(df)} exchanges:\n" +
        df.queryExecution.executedPlan)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(df.count() == 20L)
  }

  test("negative control: the identical unbucketed join shuffles both sides") {
    val o = graft.Tables.orders(s, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val l = graft.Tables.lineitem(s, sf)
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    assert(shuffles(o.join(l, "o_orderkey")) == 2)
  }

  test("bucketed path is value-equal to the plain join") {
    tables
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("o_orderkey")
        .agg(count(lit(1)).as("n"), sum("l_quantity").cast("long").as("q"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bucketed = rows(Bucketing.readBucketed(s, "bk_orders")
      .join(Bucketing.readBucketed(s, "bk_lineitem"), "o_orderkey"))
    val plain = rows(graft.Tables.orders(s, sf)
      .select(col("o_orderkey"))
      .join(graft.Tables.lineitem(s, sf)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        "o_orderkey"))
    assert(bucketed == plain && bucketed.nonEmpty)
  }

  test("bucket-count evolution: 8 ⋈ 16 joins shuffle-free under coalesceBucketsInJoin") {
    // r12 verdict #3: the Scaladoc's "or a multiple" contract, proven.
    // Without the flag, mismatched counts force an exchange on one side;
    // with it, the 16-bucket side coalesces 2:1 at read time — zero
    // exchanges, value-equal to the same-count path.
    tables
    val l = graft.Tables.lineitem(s, sf)
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
    Bucketing.writeBucketed(l, "bk_lineitem16", "o_orderkey", 16)
    def joined = Bucketing.readBucketed(s, "bk_orders")
      .join(Bucketing.readBucketed(s, "bk_lineitem16"), "o_orderkey")
    val flag = "spark.sql.bucketing.coalesceBucketsInJoin.enabled"
    val saved = s.conf.getOption(flag)
    try {
      s.conf.set(flag, "false")
      assert(shuffles(joined) >= 1,
        "negative control: mismatched bucket counts must exchange without the flag")
      s.conf.set(flag, "true")
      val j = joined
      assert(shuffles(j) == 0,
        s"coalesced mixed-count join planned ${shuffles(j)} exchanges:\n" +
          j.queryExecution.executedPlan)
      // value-equality with the same-count bucketed path
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("o_orderkey")
          .agg(count(lit(1)).as("n"), sum("l_quantity").cast("long").as("q"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sameCount = rows(Bucketing.readBucketed(s, "bk_orders")
        .join(Bucketing.readBucketed(s, "bk_lineitem"), "o_orderkey"))
      assert(rows(j) == sameCount && sameCount.nonEmpty)
    } finally saved match {
      case Some(v) => s.conf.set(flag, v)
      case None    => s.conf.unset(flag)
    }
  }

  test("gated q_eng_bucketed_join_coalesce plans ZERO exchanges end-to-end") {
    val df = graft.SparkEntry.queries("q_eng_bucketed_join_coalesce")(s, sf)
    assert(shuffles(df) == 0,
      s"gated coalesced join planned ${shuffles(df)} exchanges:\n" +
        df.queryExecution.executedPlan)
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    // same answer as the same-count gate row — the two layouts must agree
    val a = df.collect().map(_.toSeq).toSeq
    val b = graft.SparkEntry.queries("q_eng_bucketed_join")(s, sf)
      .collect().map(_.toSeq).toSeq
    assert(a == b && a.size == 20)
  }
}
