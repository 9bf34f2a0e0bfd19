package graft.functions

import graft.SparkSpec
import graft.operators.KmvSketch
import org.apache.spark.sql.functions._

class KmvDistinctAggSpec extends SparkSpec {
  import spark.implicits._

  test("aggregate estimate == the DataFrame sketch path, value for value") {
    val df = (1L to 5000L).map(i => ("a", i * 7919L)).toDF("s", "v")
    df.createOrReplaceTempView("kmv_in")
    val viaSql = spark.sql(
      "SELECT graft_kmv_distinct(v, 128) AS e FROM kmv_in").as[Long].head()
    val viaDf = KmvSketch.estimate(
      KmvSketch.sketch(df, col("s"), col("v"), 128), 128)
      .select("distinct_est").as[Long].head()
    assert(viaSql == viaDf)
  }

  test("below-k inputs count exactly") {
    (1L to 40L).map(i => Tuple1(i)).toDF("v").createOrReplaceTempView("kmv_small")
    assert(spark.sql("SELECT graft_kmv_distinct(v, 128) FROM kmv_small")
      .as[Long].head() == 40L)
  }

  test("partition-layout invariance (the merge path is exercised and exact)") {
    val vals = (1L to 3000L).map(i => Tuple1(i * 104729L))
    val one = vals.toDF("v").coalesce(1)
    val many = vals.toDF("v").repartition(32)
    one.createOrReplaceTempView("kmv_one")
    many.createOrReplaceTempView("kmv_many")
    val a = spark.sql("SELECT graft_kmv_distinct(v, 64) FROM kmv_one").as[Long].head()
    val b = spark.sql("SELECT graft_kmv_distinct(v, 64) FROM kmv_many").as[Long].head()
    assert(a == b, "bottom-k merge must be partition-order independent")
  }

  test("streaming update-mode aggregation carries the sketch state across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[Long](spark)
    mem.toDF().toDF("v").createOrReplaceTempView("kmv_stream")
    val q = spark.sql("SELECT graft_kmv_distinct(v, 128) AS e FROM kmv_stream")
      .writeStream.format("memory").queryName("kmv_out")
      .outputMode("complete").start()
    mem.addData(1L to 30L: _*)
    q.processAllAvailable()
    assert(spark.table("kmv_out").as[Long].collect().last == 30L)
    mem.addData(21L to 50L: _*) // overlap dedups inside the sketch state
    q.processAllAvailable()
    assert(spark.table("kmv_out").as[Long].collect().last == 50L)
    q.stop()
  }

  test("GROUP BY cohort sketching: per-group estimates, duplicates ignored") {
    val df = ((1L to 500L).map(i => ("x", i)) ++ (1L to 500L).map(i => ("x", i)) ++
      (1L to 30L).map(i => ("y", i))).toDF("g", "v")
    df.createOrReplaceTempView("kmv_g")
    val got = spark.sql(
      "SELECT g, graft_kmv_distinct(v, 512) AS e FROM kmv_g GROUP BY g ORDER BY g")
      .as[(String, Long)].collect().toSeq
    // both groups are below k → exact despite the duplicated x rows
    assert(got == Seq(("x", 500L), ("y", 30L)))
  }
}
