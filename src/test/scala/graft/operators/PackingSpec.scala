package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contiguous packing contract: bin = floor(exclusive prefix / budget) in
  * key order, independent of partition layout; guards. */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  private val toks = Seq(3L, 9L, 4L, 4L, 12L, 1L, 1L, 8L, 5L, 2L, 7L, 6L)
  private lazy val df = toks.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "n")

  private def reference(budget: Long): Map[Long, Long] = {
    val prefix = toks.scanLeft(0L)(_ + _)
    toks.indices.map(i => i.toLong -> prefix(i) / budget).toMap
  }

  test("bins match the sequential reference; oversized docs span bins") {
    for (budget <- Seq(10L, 16L, 5L)) {
      val out = Packing.packByBudget(df, col("doc_id"), col("n"), budget)
        .select("doc_id", "bin").as[(Long, Long)].collect().toMap
      assert(out == reference(budget), s"budget=$budget")
    }
    // doc with 12 tokens against budget 5 must push later docs forward
    val b5 = Packing.packByBudget(df, col("doc_id"), col("n"), 5L)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    assert(b5 == reference(5L))
  }

  test("partition-layout independent") {
    val a = Packing.packByBudget(df, col("doc_id"), col("n"), 10L)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    val b = Packing.packByBudget(df.repartition(5), col("doc_id"), col("n"), 10L)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("offsets stay aligned when AQE coalesces aggressively (sf1 regression)") {
    // Regression for the sf1 crash: the per-partition totals were planned
    // from a narrow tok-only projection, which AQE coalesced to FEWER
    // post-shuffle partitions than the wide data pass — offsets(pid) then
    // indexed past the array. Adversarial shape: a fat payload column makes
    // the full-row shuffle much larger than the token projection, so the two
    // independently-planned range shuffles coalesce differently under a
    // small advisory partition size. The fix derives both passes from one
    // RDD, so this must both not throw and match the sequential reference.
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536") {
      val n = 4000
      // payload must be shuffle-incompressible (sha2 chain, not a repeated
      // literal) or both shuffles coalesce to one partition and the
      // divergence never shows
      val wide = spark.range(n.toLong).toDF("doc_id")
        .withColumn("n", (col("doc_id") % 7 + 1).cast("long"))
        .withColumn("payload", concat_ws("", (1 to 40).map(i =>
          sha2(concat_ws("_", col("doc_id"), lit(i)), 256)): _*))
      val out = Packing.packByBudget(wide, col("doc_id"), col("n"), 64L)
        .select("doc_id", "bin").as[(Long, Long)].collect().toMap
      val seq = (0 until n).map(i => (i % 7 + 1).toLong)
      val prefix = seq.scanLeft(0L)(_ + _)
      val expect = (0 until n).map(i => i.toLong -> prefix(i) / 64L).toMap
      assert(out == expect)
    }
  }

  test("guards: positive budget, fresh bin column") {
    intercept[IllegalArgumentException](
      Packing.packByBudget(df, col("doc_id"), col("n"), 0L))
    intercept[IllegalArgumentException](
      Packing.packByBudget(df.withColumn("bin", lit(1)), col("doc_id"), col("n"), 10L))
  }

  test("a NULL token count fails the job, naming the column") {
    // getLong reads a NULL as 0: unchecked, the row would pack as an empty
    // document and the bins after it would come out silently wrong
    val withNull = Seq((0L, Some(3L)), (1L, None), (2L, Some(4L)))
      .toDF("doc_id", "n")
    val err = intercept[Exception](
      Packing.packByBudget(withNull, col("doc_id"), col("n"), 4L).collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("column 'n' holds a NULL")), err)
  }
}
