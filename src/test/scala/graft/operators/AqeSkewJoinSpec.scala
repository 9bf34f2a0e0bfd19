package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** AQE skew-join contract — the runtime complement to the explicit
  * salting operators in [[Skew]]: when a shuffle join's partition sizes
  * are only known at runtime, AQE must split the oversized partition
  * into parallel sub-joins (plan shows `skew=true`) instead of letting
  * one straggler task carry the hot key. At 100 TB this is the
  * mitigation for skew you did NOT predict; salting remains the one for
  * skew you did. */
class AqeSkewJoinSpec extends SparkSpec {
  import spark.implicits._

  // broadcast off; the local fixture is small, so lower the skew thresholds
  // until the hot partition qualifies (prod keeps the defaults)
  private val skewConf = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "131072",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")

  test("AQE splits the hot key's partition at runtime (skew=true in final plan)") {
    withConf(skewConf: _*) {
      val pad = "x" * 96
      val hot = spark.range(0, 200000).select(lit(0L).as("k"),
        concat(lit(pad), col("id").cast("string")).as("payload"))
      val tail = spark.range(1, 2001).select(col("id").as("k"),
        lit(pad).as("payload"))
      val left = hot.unionByName(tail)
      val right = spark.range(0, 2001).select(col("id").as("k"),
        lit("dim").as("label"))
      val joined = left.join(right, "k")
      // execute THIS dataframe's QueryExecution (count() would build a
      // separate aggregate plan and leave this one un-finalized)
      assert(joined.collect().length == 200000 + 2000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE must mark the skewed join:\n${plan.take(3000)}")
    }
  }

  test("salted join and the AQE skew-split plain join agree row for row") {
    // r12 verdict #5: production leans on BOTH mitigations — explicit
    // salting for skew you predicted, AQE OptimizeSkewedJoin for skew
    // you didn't. They must compute the same relation, and the AQE path
    // must really have split (skew=true), or the "agreement" is vacuous.
    withConf(skewConf: _*) {
      val pad = "x" * 96
      val hot = spark.range(0, 200000).select(lit(0L).as("k"),
        concat(lit(pad), col("id").cast("string")).as("payload"),
        col("id").as("rid"))
      val tail = spark.range(1, 2001).select(col("id").as("k"),
        lit(pad).as("payload"), (col("id") + 1000000L).as("rid"))
      val left = hot.unionByName(tail)
      val right = spark.range(0, 2001).select(col("id").as("k"),
        lit("dim").as("label"))
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("k").agg(count(lit(1)).as("n"),
            sum(length(col("payload"))).cast("long").as("bytes"),
            min(col("label")).as("lbl"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getString(3))).toSet
      // execute THIS dataframe's QueryExecution to finalize the adaptive
      // plan (an aggregate on top would be a different QueryExecution)
      val plain = left.join(right, "k")
      assert(plain.collect().length == 200000 + 2000)
      val aqePlan = plain.queryExecution.executedPlan.toString
      assert(aqePlan.contains("skew=true"),
        s"agreement check is vacuous unless AQE actually split:\n${aqePlan.take(2000)}")
      val plainRows = agg(left.join(right, "k"))
      val salted = agg(graft.operators.Skew.saltedJoin(
        left, right, key = "k", saltFrom = Seq(col("rid")), buckets = 8))
      assert(salted == plainRows && salted.nonEmpty,
        "salted join diverged from the AQE skew-split plain join")
    }
  }
}
