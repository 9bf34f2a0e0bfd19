package graft.queries

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

import java.security.MessageDigest

/** Semantic pins for the round-8 wave-9 pipeline monitors (register-level
  * HLL sketch, one-sided CUSUM alarm, split-leakage), independent of the
  * DuckDB gate: each is recomputed driver-side at sf0.001 with a naive
  * BigInt / sequential brute force. The CUSUM pin is deliberately the
  * SEQUENTIAL recurrence (max(0, S+dev)) — it proves the distributed
  * prefix-sum/prefix-min formulation equals the textbook definition, not
  * just itself.
  */
class Round8Wave8SemanticsSpec extends SparkSpec {

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** (day-ordered daily revenue cents) at sf0.001. */
  private lazy val daily: Seq[Long] = Tables.orders(spark, sf)
    .groupBy(to_date(col("o_orderdate")).as("day"))
    .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("x"))
    .orderBy("day")
    .collect().toSeq.map(_.getLong(1))

  test("q_eng_hll_card equals the brute-force register sketch") {
    def sketch(ids: Seq[Long]): (Long, Long, Long, Option[Long], Long) = {
      val regs = scala.collection.mutable.Map.empty[Int, Int]
      for (id <- ids) {
        val h = md5hex(id.toString)
        val reg = Integer.parseInt(h.substring(0, 2), 16)
        val w = java.lang.Long.parseLong(h.substring(2, 14), 16)
        val rho =
          if (w == 0L) 49
          else 49 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        regs(reg) = math.max(regs.getOrElse(reg, 0), rho)
      }
      val vZero = 256L - regs.size
      val s = regs.values.map(mj => 1L << (49 - mj)).sum +
        vZero * 562949953421312L
      val raw = math.floor(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 *
        562949953421312.0 / s.toDouble * 1000000.0 + 0.5).toLong
      val lc = if (vZero > 0)
        Some(math.floor(256.0 * math.log(256.0 / vZero.toDouble) *
          1000000.0 + 0.5).toLong)
      else None
      (vZero, s, raw, lc, ids.distinct.size.toLong)
    }
    val custs = Tables.orders(spark, sf).select(col("o_custkey"))
      .collect().toSeq.map(_.getLong(0))
    val nats = Tables.customer(spark, sf).select(col("c_nationkey"))
      .collect().toSeq.map(_.getAs[Number](0).longValue)
    val got = SparkEntry.queries("q_eng_hll_card")(spark, sf).collect()
    assert(got.length == 2)
    for ((row, ids) <- Seq((got(1), custs), (got(0), nats))) {
      val (vZero, s, raw, lc, exact) = sketch(ids)
      assert(row.getLong(1) == 256L, "m")
      assert(row.getLong(2) == vZero, "v_zero")
      assert(row.getLong(3) == s, "s_scaled")
      assert(row.getLong(4) == raw, "raw_est_micro")
      assert((if (row.isNullAt(5)) None else Some(row.getLong(5))) == lc,
        "lc_est_micro")
      assert(row.getLong(6) == exact, "exact_distinct")
    }
    // the two legs exercise different estimator branches by construction
    assert(got(0).getString(0) == "c_nationkey" && !got(0).isNullAt(5),
      "linear-counting leg live")
    assert(got(1).getString(0) == "o_custkey")
  }

  test("q_eng_cusum_alarm equals the sequential textbook recurrence") {
    val n = BigInt(daily.size)
    val sTot = daily.map(BigInt(_)).sum
    var s = BigInt(0)
    val walk = daily.map { x =>
      s = (s + (BigInt(x) * n - sTot)).max(BigInt(0))
      s
    }
    val days = Tables.orders(spark, sf)
      .groupBy(to_date(col("o_orderdate")).as("day")).agg(count(lit(1)))
      .orderBy("day").collect().toSeq.map(_.getDate(0).toString)
    val want = days.zip(walk).zip(daily)
      .map { case ((d, c), x) => (d, x, c.toLong) }
      .sortBy { case (d, _, c) => (-c, d) }.take(5)
    val got = SparkEntry.queries("q_eng_cusum_alarm")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    assert(got.head._3 > 0, "non-vacuous alarm score")
  }

  test("q_eng_hll_by_type (graft_hll TypedImperativeAggregate) equals " +
    "the brute-force per-group register sketch") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    def sketch(ids: Seq[Long]): (Long, Long) = {
      val regs = new Array[Int](256)
      for (id <- ids) {
        val h = md5hex(id.toString)
        val reg = Integer.parseInt(h.substring(0, 2), 16)
        val w = java.lang.Long.parseLong(h.substring(2, 14), 16)
        val rho =
          if (w == 0L) 49
          else 49 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        regs(reg) = math.max(regs(reg), rho)
      }
      (regs.count(_ == 0).toLong, regs.map(mj => 1L << (49 - mj)).sum)
    }
    val got = SparkEntry.queries("q_eng_hll_by_type")(spark, sf).collect()
    val byType = ev.groupBy(_._1)
    assert(got.length == byType.size)
    for (row <- got) {
      val t = row.getString(0)
      val ids = byType(t).map(_._2)
      val (vZero, s) = sketch(ids)
      assert(row.getLong(1) == vZero, s"$t v_zero")
      assert(row.getLong(2) == s, s"$t s_scaled")
      val raw = math.floor(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 *
        562949953421312.0 / s.toDouble * 1000000.0 + 0.5).toLong
      assert(row.getLong(3) == raw, s"$t raw_est_micro")
      assert(row.getLong(4) == ids.distinct.size.toLong, s"$t n_exact")
    }
    // merge path: the same aggregate over an adversarial 64-partition
    // round-robin layout must be bitwise identical (update/merge order
    // independence — the property that makes the sketch mergeable)
    Tables.events(spark, sf).repartition(64)
      .createOrReplaceTempView("hll_events_64")
    val re = spark.sql(
      """SELECT event_type, graft_hll(user_id) AS sk
         FROM hll_events_64 GROUP BY event_type ORDER BY event_type""")
      .select(col("event_type"), col("sk.v_zero"), col("sk.s_scaled"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(re == got.map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("q_eng_ccf equals the brute-force centered cross-products") {
    val rows = Tables.orders(spark, sf)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("rev"))
      .collect().toSeq
      .map(r => (r.getDate(0).toLocalDate, BigInt(r.getLong(1)),
        BigInt(r.getLong(2))))
    val n = BigInt(rows.size)
    val scnt = rows.map(_._2).sum
    val srev = rows.map(_._3).sum
    val byDay = rows.map { case (d, c, x) =>
      (d, n * c - scnt, n * x - srev)
    }
    val cx0 = byDay.map(t => t._2 * t._2).sum
    val cy0 = byDay.map(t => t._3 * t._3).sum
    val cyOf = byDay.map(t => (t._1, t._3)).toMap
    val got = SparkEntry.queries("q_eng_ccf")(spark, sf).collect()
    assert(got.length == 15)
    for (row <- got) {
      val lag = row.getLong(0)
      val pairs = byDay.flatMap { case (d, cx, _) =>
        cyOf.get(d.plusDays(lag)).map(cy2 => (cx, cy2))
      }
      assert(row.getLong(1) == pairs.size.toLong, s"lag $lag n_pairs")
      val num = pairs.map { case (a, b) => a * b }.sum
      val want = num.toDouble / math.sqrt(cx0.toDouble * cy0.toDouble)
      val wantMicro = math.floor(want * 1000000.0 + 0.5).toLong
      assert(row.getLong(2) == wantMicro, s"lag $lag ccf_micro")
      // boundary-margin audit for the quantized site (the conversion of
      // the >2^53 cross-product sum truncates in one engine and rounds
      // in the other — the floor must sit far from its boundary)
      val v = want * 1000000.0 + 0.5
      val fr = v - math.floor(v)
      assert(math.min(fr, 1.0 - fr) > 1e-4, s"lag $lag boundary margin")
    }
    // the lag-0 row is the plain correlation and must be strongly
    // positive on this fixture (more orders => more revenue)
    assert(got.find(_.getLong(0) == 0L).get.getLong(2) > 500000L)
  }

  test("q_text_budget_select equals the brute-force greedy selection") {
    // inputs (quality, tokens, clusters) come from already-gated engine
    // frames; the pin exercises the SELECTION algebra — representative
    // choice, global greedy order, budget cut
    val q = graft.Tables.documents(spark, sf).select(col("doc_id"),
      graft.text.TextFunctions.qualityScore(col("text")).as("quality"),
      graft.text.TextFunctions.tokenCount(col("text")).cast("long")
        .as("n_tokens"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val cl = DedupQueries.textClusterTable(spark, sf)
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).toMap
    val reps = q.groupBy { case (id, _, _) => cl.getOrElse(id, id) }
      .values.map(_.minBy { case (id, qual, _) => (-qual, id) }).toSeq
    val budget = reps.map(_._3).sum * 3 / 5
    var cum = 0L
    val want = reps.sortBy { case (id, qual, _) => (-qual, id) }
      .flatMap { case (id, _, t) =>
        cum += t
        if (cum <= budget) Some((id, t, cum, budget)) else None
      }.sortBy(_._1)
    val got = SparkEntry.queries("q_text_budget_select")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want)
    // non-vacuity: the budget cut must actually exclude someone
    assert(got.nonEmpty && got.size < reps.size)
  }

  test("q_eng_deepwalk_pairs equals the brute-force walk simulation") {
    val edges = Tables.lineitem(spark, sf)
      .select((col("l_partkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val adjacency = (edges ++ edges.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def pick(walkId: Long, node: Long, step: Int): Long = {
      val h = java.lang.Long.parseLong(
        md5hex(s"$walkId:$node:$step").substring(0, 4), 16)
      adjacency(node)((h % adjacency(node).size).toInt)
    }
    // one 4-step walk per node; (pos, node) trajectory
    val walks = adjacency.keys.toSeq.sorted.map { start =>
      var cur = start
      val traj = Seq(cur) ++ (0 until 4).map { i =>
        cur = pick(start, cur, i); cur
      }
      (start, traj)
    }
    val counts = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for ((_, traj) <- walks; i <- traj.indices; j <- traj.indices
         if i != j && math.abs(i - j) <= 2) {
      val k = (traj(i), traj(j))
      counts(k) = counts.getOrElse(k, 0L) + 1L
    }
    val want = counts.toSeq
      .map { case ((c, x), n) => (c, x, n) }
      .sortBy { case (c, x, n) => (-n, c, x) }.take(50)
    val got = SparkEntry.queries("q_eng_deepwalk_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    assert(got.head._3 > 1, "non-vacuous support")
  }

  test("q_dedup_split_leakage equals the brute-force split of the " +
    "verified pair table") {
    val pairs = SparkEntry.queries("q_dedup_minhash_lsh")(spark, sf)
      .select(col("ida"), col("idb"))
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    def split(id: Long): String = {
      val b = java.lang.Long.parseLong(md5hex(id.toString).substring(0, 4),
        16) % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val want = pairs.map { case (a, b) =>
      val (sa, sb) = (split(a), split(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .toSeq.sortBy(_._1)
      .map { case ((a, b), c) => (a, b, c, if (a != b) 1L else 0L) }
    val got = SparkEntry.queries("q_dedup_split_leakage")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want)
  }
}
