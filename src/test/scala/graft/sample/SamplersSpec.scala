package graft.sample

import graft.SparkSpec
import graft.sample.Samplers.SampleOrder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sampler invariants (SURVEY.md §2.6 / §7.4): exact counts, small-group
  * semantics, null-stratum sentinel, partition-layout-independent
  * reproducibility, and temp-column hygiene. */
class SamplersSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ev = graft.Tables.events(spark, sf).cache()

  test("uniformExact returns exactly n distinct rows") {
    val s = Samplers.uniformExact(ev, 100, SampleOrder.HashOf(42, Seq($"event_id")))
    val ids = s.select("event_id").as[Long].collect()
    assert(ids.length == 100)
    assert(ids.toSet.size == 100)
  }

  test("perGroup: k per group; groups smaller than k return all rows") {
    val totals = ev.groupBy("event_type").count().as[(String, Long)].collect().toMap
    for (k <- Seq(7, 100000)) { // 100000 exceeds every group
      val s = Samplers.stratified(ev, $"event_type", k, SampleOrder.HashOf(42, Seq($"event_id")))
      val got = s.groupBy("event_type").count().as[(String, Long)].collect().toMap
      totals.foreach { case (g, total) =>
        assert(got(g) == math.min(k.toLong, total), s"k=$k group $g")
      }
    }
    // k=1 under ascending id order keeps the minimum id of each group
    val one = Samplers.perGroup(ev, Seq($"event_type"), 1, SampleOrder.By(Seq($"event_id")))
      .select("event_type", "event_id").as[(String, Long)].collect()
    val minIds = ev.groupBy("event_type").agg(min("event_id"))
      .as[(String, Long)].collect()
    assert(one.length == totals.size && one.toSet == minIds.toSet)
  }

  test("perGroup with k <= 1000 cuts each group to k rows before its shuffle") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
    val df = Samplers.perGroup(ev, Seq($"event_type"), 50, SampleOrder.By(Seq($"event_id")))
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan // the initial plan, exchanges in place
      case p => p
    }
    val partialBelowShuffle = plan.collect { case e: ShuffleExchangeLike => e }.exists(
      _.collectFirst { case l: WindowGroupLimitExec if l.mode == Partial && l.limit == 50 => l }
        .isDefined)
    assert(partialBelowShuffle, s"no partial WindowGroupLimit below a shuffle:\n$plan")
  }

  test("stratified: null strata collapse into one __NA__ group") {
    val withNulls = ev.withColumn("s", nullif($"event_type", lit("click")))
    val s = Samplers.stratified(withNulls, $"s", 5, SampleOrder.HashOf(1, Seq($"event_id")))
    // sampled rows where s is null exist and are capped at 5
    val naCount = s.where($"s".isNull).count()
    assert(naCount == 5)
  }

  test("mixExact: per-source targets, undersized sources full-take, omitted drop") {
    val ev = graft.Tables.events(spark, sf)
    val sizes = ev.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    val targets = Map("click" -> 7, "view" -> 1000000, "signup" -> 0)
    val mixed = Samplers.mixExact(ev, col("event_type"), targets,
      SampleOrder.HashOf(42, Seq(col("event_id"))))
    val got = mixed.groupBy("event_type").count().as[(String, Long)].collect().toMap
    assert(got == Map(
      "click" -> math.min(7L, sizes("click")),
      "view" -> sizes("view"))) // under-sized target → full take; 0/omitted → absent
    // content-hash order ⇒ identical selection under any partitioning
    val a = mixed.select("event_id").as[Long].collect().toSet
    val b = Samplers.mixExact(ev.repartition(13), col("event_type"), targets,
        SampleOrder.HashOf(42, Seq(col("event_id"))))
      .select("event_id").as[Long].collect().toSet
    assert(a == b)
  }

  test("HashOf sample is identical under different partitionings") {
    val order = SampleOrder.HashOf(42, Seq($"event_id"))
    for ((what, sample) <- Seq[(String, DataFrame => DataFrame)](
        "uniformExact" -> (Samplers.uniformExact(_, 50, order)),
        "perGroup" -> (Samplers.perGroup(_, Seq($"event_type"), 5, order)))) {
      val a = sample(ev.repartition(1)).select("event_id").as[Long].collect().toSet
      val b = sample(ev.repartition(13, $"user_id")).select("event_id").as[Long].collect().toSet
      assert(a.nonEmpty && a == b, what)
    }
  }

  test("weightedExact: exact n, deterministic, weight-sensitive, zero-weight excluded") {
    val w = $"value" // use value as the weight
    val a = Samplers.weightedExact(ev, 200, w, 42, Seq($"event_id"))
      .select("event_id").as[Long].collect().toSet
    val b = Samplers.weightedExact(ev.repartition(9), 200, w, 42, Seq($"event_id"))
      .select("event_id").as[Long].collect().toSet
    assert(a.size == 200 && a == b)
    // zero/negative weights never sampled
    val z = Samplers.weightedExact(
      ev.withColumn("w0", when($"event_id" % 2 === 0, 0.0).otherwise($"value")),
      300, $"w0", 1, Seq($"event_id"))
    assert(z.where($"event_id" % 2 === 0).count() == 0)
    // weight sensitivity: sampling by weight=value yields a higher mean
    // value than the uniform sample of the same size (deterministic seeds)
    val weightedMean = Samplers.weightedExact(ev, 100, $"value", 7, Seq($"event_id"))
      .agg(avg($"value")).head().getDouble(0)
    val uniformMean = Samplers.uniformExact(ev, 100,
      SampleOrder.HashOf(7, Seq($"event_id"))).agg(avg($"value")).head().getDouble(0)
    assert(weightedMean > uniformMean,
      s"weighted mean $weightedMean should exceed uniform mean $uniformMean")
  }

  test("HashOf sampling is approximately uniform across strata (chi-square)") {
    // deterministic: fixed seeds, fixed data — no flake. The sampled
    // per-stratum proportions must track population proportions: chi²
    // over event_type with df=4 stays under 13.28 (p≈0.01) for each seed.
    val popCounts = ev.groupBy("event_type").count().as[(String, Long)].collect().toMap
    val total = popCounts.values.sum.toDouble
    val n = 400
    for (seed <- Seq(1L, 42L, 7L)) {
      val sampled = Samplers.uniformExact(ev, n, SampleOrder.HashOf(seed, Seq($"event_id")))
        .groupBy("event_type").count().as[(String, Long)].collect().toMap
      val chi2 = popCounts.map { case (g, pop) =>
        val expected = n * pop / total
        val observed = sampled.getOrElse(g, 0L).toDouble
        (observed - expected) * (observed - expected) / expected
      }.sum
      assert(chi2 < 13.28, s"seed=$seed chi2=$chi2 (sample skewed across strata)")
    }
  }

  test("perGroup leaves a pre-existing __rn column untouched") {
    val withRn = ev.withColumn("__rn", $"event_id" * 2)
    val s = Samplers.perGroup(withRn, Seq($"event_type"), 3,
      SampleOrder.By(Seq($"event_id")))
    assert(s.columns.contains("__rn"))
    val bad = s.where($"__rn" =!= $"event_id" * 2).count()
    assert(bad == 0)
  }
}
