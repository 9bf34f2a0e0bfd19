package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Stable-id contract: dense 0-based ids in key order, identical across
  * partitionings, collision rejection. */
class StableIdsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ev = graft.Tables.events(spark, sf).cache()

  test("ids are dense, 0-based, and follow the ordering key") {
    val withIds = StableIds.assignIds(ev.select("event_id"), Seq($"event_id"))
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(withIds.map(_._2).toSeq == withIds.indices.map(_.toLong))
    // event_id ascending ⇒ id ascending
    assert(withIds.map(_._1).toSeq == withIds.map(_._1).sorted.toSeq)
  }

  test("assignment is partition-layout independent") {
    val a = StableIds.assignIds(ev.select("event_id"), Seq($"event_id"))
      .as[(Long, Long)].collect().toSet
    val b = StableIds.assignIds(ev.select("event_id").repartition(13), Seq($"event_id"))
      .as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("existing id column is rejected") {
    intercept[IllegalArgumentException](
      StableIds.assignIds(ev.withColumn("id", lit(1)), Seq($"event_id")))
  }

  test("assignIds matches row_number() window semantics (desc + tiebreak)") {
    // focused pin for the opt-r13 plan-native rewrite (mid/pid offsets
    // instead of RDD zipWithIndex): exact equality with the window
    // formulation on a composite DESC ordering — the calibration family's
    // actual key shape
    import org.apache.spark.sql.expressions.Window
    val df = ev.select($"event_id", ($"event_id" % 97).as("k"))
    val got = StableIds.withRank(df, Seq($"k".desc, $"event_id"), "rk")
      .select("event_id", "rk").as[(Long, Long)].collect().toSet
    val want = df.withColumn("rk",
        row_number().over(Window.orderBy($"k".desc, $"event_id")).cast("long"))
      .select("event_id", "rk").as[(Long, Long)].collect().toSet
    assert(got == want)
  }

  test("rankAndCumSums matches the window formulation for every value col") {
    import org.apache.spark.sql.expressions.Window
    val df = ev.select($"event_id",
      ($"event_id" % 7).as("v1"), ($"event_id" % 3).as("v2"))
    val got = StableIds.rankAndCumSums(df, Seq($"event_id"),
        Seq("v1" -> "c1", "v2" -> "c2"))
      .select("event_id", "rank", "c1", "c2")
      .as[(Long, Long, Long, Long)].collect().toSet
    val w = Window.orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df
      .withColumn("rk", row_number().over(Window.orderBy($"event_id")).cast("long"))
      .withColumn("c1", sum($"v1").over(w))
      .withColumn("c2", sum($"v2").over(w))
      .select("event_id", "rk", "c1", "c2")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("rankAndCumSums is partition-layout independent") {
    val df = ev.select($"event_id", ($"event_id" % 5).as("v"))
    val a = StableIds.rankAndCumSums(df, Seq($"event_id"), Seq("v" -> "c"))
      .select("event_id", "rank", "c").as[(Long, Long, Long)].collect().toSet
    val b = StableIds.rankAndCumSums(df.repartition(17), Seq($"event_id"),
        Seq("v" -> "c"))
      .select("event_id", "rank", "c").as[(Long, Long, Long)].collect().toSet
    assert(a == b)
  }

  test("runningMaxes matches the window formulation, incl. negative values") {
    import org.apache.spark.sql.expressions.Window
    // (event_id % 11) - 5 exercises negatives against the Long.MinValue
    // seed; event_id % 7 exercises a second value column in the same scan
    val df = ev.select($"event_id",
      (($"event_id" % 11) - 5).as("v1"), ($"event_id" % 7).as("v2"))
    val got = StableIds.runningMaxes(df, Seq($"event_id"),
        Seq("v1" -> "m1", "v2" -> "m2"))
      .select("event_id", "m1", "m2")
      .as[(Long, Long, Long)].collect().toSet
    val w = Window.orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df
      .withColumn("m1", max($"v1").over(w))
      .withColumn("m2", max($"v2").over(w))
      .select("event_id", "m1", "m2")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("runningMaxes is partition-layout independent") {
    val df = ev.select($"event_id", ($"event_id" % 13).as("v"))
    val a = StableIds.runningMaxes(df, Seq($"event_id"), Seq("v" -> "m"))
      .select("event_id", "m").as[(Long, Long)].collect().toSet
    val b = StableIds.runningMaxes(df.repartition(17), Seq($"event_id"),
        Seq("v" -> "m"))
      .select("event_id", "m").as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("a NULL value fails rankAndCumSums and runningMaxes, naming the column") {
    val df = Seq((1L, Some(2L)), (2L, None), (3L, Some(5L))).toDF("k", "v")
    for (scan <- Seq(
        () => StableIds.rankAndCumSums(df, Seq($"k"), Seq("v" -> "c")),
        () => StableIds.runningMaxes(df, Seq($"k"), Seq("v" -> "m")))) {
      val err = intercept[Exception](scan().collect())
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("column 'v' holds a NULL")), err)
    }
  }
}
