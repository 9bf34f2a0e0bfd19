package graft.queries

import graft.{SparkEntry, SparkSpec, Tables, TempDirs}
import org.apache.spark.sql.functions._

/** Independent semantic proofs for the analytics queries whose DuckDB
  * oracles share the same formulation (coverage explosion, rank-rule
  * medians, frontier BFS): a conceptual error in the shared formula would
  * pass the cross-engine gate, so these tests recompute the answers
  * NAIVELY (collected Scala collections, brute-force windows) or on
  * crafted fixtures with known ground truth. */
class AnalyticsSemanticsSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def dailyCents: Map[java.time.LocalDate, Long] =
    Tables.orders(spark, sf)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("x"))
      .as[(java.sql.Date, Long)].collect()
      .map { case (d, x) => d.toLocalDate -> x }.toMap

  test("moving 7-day median: coverage trick == naive sliding window") {
    val daily = dailyCents
    val naive = daily.keys.flatMap { t =>
      val win = (0 to 6).map(k => t.minusDays(k)).flatMap(daily.get)
      if (win.size == 7) {
        val v = win.sorted
        Some(t.toString -> (v((7 + 1) / 2 - 1) + v(7 / 2))) // lo + hi ranks
      } else None
    }.toMap
    val got = SparkEntry.queries("q_eng_moving_median")(spark, sf)
      .as[(String, Long)].collect().toMap
    assert(got == naive)
  }

  test("DAU/WAU: coverage trick == naive 7-day distinct union") {
    val ud = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct().as[(java.sql.Date, Long)].collect()
      .groupBy(_._1.toLocalDate).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val naive = ud.map { case (d, users) =>
      val wau = (0 to 6).flatMap(k => ud.getOrElse(d.minusDays(k), Set.empty))
        .toSet.size.toLong
      (d.toString, users.size.toLong, wau, users.size.toLong * 1000000L / wau)
    }.toSet
    val got = SparkEntry.queries("q_eng_dau_wau")(spark, sf)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == naive)
  }

  test("BFS hop distance == naive breadth-first search on collected edges") {
    val op = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val und = op.as("a")
      .join(op.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p"), col("b.p")).agg(count(lit(1)).as("w"))
      .where(col("w") >= 2)
      .select(col("a.p"), col("b.p")).as[(Long, Long)].collect()
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val seed = adj.keys.min
    var dist = Map(seed -> 0L)
    var frontier = Set(seed)
    for (h <- 1 to 3) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        .diff(dist.keySet)
      dist ++= next.map(_ -> h.toLong)
      frontier = next
    }
    val got = SparkEntry.queries("q_eng_bfs_hops")(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(got == dist)
  }

  test("MAD outliers: rank-rule medians == sorted-array medians per segment") {
    val groups = Tables.customer(spark, sf)
      .select(col("c_mktsegment"),
        floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents"))
      .as[(String, Long)].collect().groupBy(_._1)
    def med2(v: Seq[Long]): Long = {
      val s = v.sorted; val n = s.size
      s((n + 1) / 2 - 1) + s(n / 2)
    }
    val naive = groups.map { case (seg, xs) =>
      val cents = xs.map(_._2).toSeq
      val m2 = med2(cents)
      val d2 = cents.map(c => math.abs(2 * c - m2))
      val mad4 = med2(d2)
      (seg, cents.size.toLong, m2, mad4,
        d2.count(_ * 2 > mad4 * 3).toLong)
    }.toSet
    val got = SparkEntry.queries("q_eng_mad_outliers")(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == naive)
  }

  test("growth accounting: new+retained == active(m); retained+churned == active(m-1)") {
    val am = Tables.orders(spark, sf)
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("ym"), col("o_custkey"))
      .distinct().as[(Long, Long)].collect()
      .groupBy(_._1).map { case (m, xs) => m -> xs.map(_._2).toSet }
    val got = SparkEntry.queries("q_eng_growth_accounting")(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    for ((ym, nNew, nRet, nChurn) <- got) {
      assert(nNew + nRet == am(ym).size, s"month $ym active mismatch")
      assert(nRet + nChurn == am.getOrElse(ym - 1, Set.empty[Long]).size,
        s"month $ym prior-active mismatch")
    }
  }

  test("HHI: Σ share² == naive loop over collected brand revenues") {
    val rev = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf).select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
        .as("cents"))
      .as[(String, Long)].collect()
    val t = rev.map(_._2).sum
    val shares = rev.map(_._2 * 1000000L / t)
    val naive = (shares.map(s0 => s0 * s0).sum / 1000000L,
      shares.length.toLong, shares.max)
    val got = SparkEntry.queries("q_eng_hhi")(spark, sf)
      .as[(Long, Long, Long)].collect().head // n_brands, top_share, hhi
    assert((got._3, got._1, got._2) == naive)
  }

  test("Benford: observed digit shares == naive string-bucket loop") {
    val digits = Tables.orders(spark, sf)
      .where(col("o_totalprice") >= 1)
      .select(col("o_totalprice")).as[Double].collect()
      .map(p => p.toLong.toString.charAt(0).asDigit.toLong)
    val nt = digits.length.toLong
    val naive = digits.groupBy(identity).map { case (d, xs) =>
      d -> (xs.length.toLong, xs.length.toLong * 1000000L / nt)
    }
    val got = SparkEntry.queries("q_eng_benford")(spark, sf)
      .select("digit", "n", "share_ppm").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == naive)
  }

  test("CUSUM: top-5 deviation days == naive cumulative loop") {
    val daily = dailyCents.toSeq.sortBy(_._1.toString)
    val t = daily.map(_._2).sum
    val n = daily.size.toLong
    var acc = 0L
    val cusum = daily.map { case (d, x) => acc += n * x - t; (d.toString, x, acc) }
    val naive = cusum.sortBy { case (d, _, c) => (-math.abs(c), d) }.take(5)
    val got = SparkEntry.queries("q_eng_cusum")(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == naive)
  }

  test("attribution: 7-day lookback boundary on a crafted event stream") {
    val dir = tempDir("graft_attr")
    def ns(day: Int, sec: Int): Long =
      (java.time.LocalDateTime.of(2024, 1, day, 0, 0, 0)
        .toEpochSecond(java.time.ZoneOffset.UTC) + sec) * 1000000000L
    // (event_id, ts_nanos, user_id, event_type, value)
    Seq(
      (1L, ns(1, 0), 10L, "click", 0.0),
      (2L, ns(7, 3600), 10L, "purchase", 5.0),  // within 7 days → attributed
      (3L, ns(1, 0), 20L, "click", 0.0),
      (4L, ns(9, 1), 20L, "purchase", 7.0),     // beyond 7 days → organic
      (5L, ns(2, 0), 30L, "purchase", 9.0),     // no click at all → organic
      (6L, ns(5, 0), 40L, "purchase", 11.0),    // click AFTER purchase
      (7L, ns(6, 0), 40L, "click", 0.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val byBucket = SparkEntry.queries("q_eng_attribution")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(byBucket("attributed") == ((1L, 1L, 5.0)))
    assert(byBucket("organic") == ((3L, 3L, 27.0)))
  }
}
