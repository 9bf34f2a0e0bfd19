package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Both branches of the size-gated broadcast (opt r14, VERDICT r13 #2):
  * under the ceiling the attach join must be a BroadcastHashJoin; past it
  * the gate must fall back to a ShuffledHashJoin (never ride the hint into
  * the broadcast hard limit) — with identical results either way, for the
  * inner/leftsemi/left_anti shapes the production sites use.
  */
class BroadcastGateSpec extends SparkSpec {
  import spark.implicits._

  private lazy val big = (1L to 2000L).map(i => (i, i % 97)).toDF("k", "w")
  private lazy val small = (1L to 500L).filter(_ % 3 == 0).toDF("k")

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def run(joinType: String, ceiling: Long): (Seq[Long], String) = {
    val gated = BroadcastGate(small, small.count(), ceiling)
    val j = joinType match {
      case "inner" => big.join(gated, "k")
      case t => big.join(gated, Seq("k"), t)
    }
    (j.select(col("k")).as[Long].collect().toSeq.sorted, planOf(j))
  }

  for (jt <- Seq("inner", "leftsemi", "left_anti")) {
    test(s"$jt attach: identical results, broadcast under / shuffle_hash over the ceiling") {
      val (underRows, underPlan) = run(jt, ceiling = 1L << 24)
      val (overRows, overPlan) = run(jt, ceiling = 10L) // small has > 10 rows
      assert(underRows === overRows)
      assert(underPlan.contains("BroadcastHashJoin"),
        s"under-ceiling $jt should broadcast:\n$underPlan")
      assert(overPlan.contains("ShuffledHashJoin"),
        s"over-ceiling $jt should shuffle-hash:\n$overPlan")
      assert(!overPlan.contains("BroadcastHashJoin"),
        s"over-ceiling $jt must NOT broadcast:\n$overPlan")
    }
  }

  test("byte ceiling: a wide frame under the row ceiling shuffles, a narrow one broadcasts") {
    val claimed = 1L << 23 // under CeilingRows
    val narrow = Seq(3L, 6L).toDF("k") // 8 B a row: 64 MB at the claimed rows
    // 41 longs = 328 B a row: ~2.7 GB at the claimed rows, past 2^24 × 24 B
    val wide = (0 until 40).foldLeft(narrow)((df, i) =>
      df.withColumn(s"c$i", col("k") + i))
    def plan(df: DataFrame) = planOf(big.join(BroadcastGate(df, claimed), "k"))
    assert(plan(wide).contains("ShuffledHashJoin"), plan(wide))
    assert(!plan(wide).contains("BroadcastHashJoin"), plan(wide))
    assert(plan(narrow).contains("BroadcastHashJoin"), plan(narrow))
  }

  test("counted() gates on the materialized frame's actual row count") {
    val s2 = small.localCheckpoint(false)
    val under = big.join(BroadcastGate.counted(s2), "k")
    assert(planOf(under).contains("BroadcastHashJoin"))
    val over = big.join(BroadcastGate.counted(s2, ceilingRows = 10L), "k")
    assert(planOf(over).contains("ShuffledHashJoin"))
    assert(under.select("k").as[Long].collect().sorted ===
      over.select("k").as[Long].collect().sorted)
  }
}
