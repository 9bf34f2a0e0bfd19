package graft.queries

import graft.Tables
import graft.functions.WideDiv.wide
import graft.queries.QueryBlocks.{dailyRevenue, sqlDailyRevenue}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Round-8 wave 9: always-on pipeline monitors — a from-scratch
  * register-level HyperLogLog (the deterministic complement of
  * q_eng_hll_merge's built-in-sketch 5%-envelope check: every register is
  * oracle-pinned bitwise) and the one-sided CUSUM changepoint ALARM
  * statistic (max(0, ·) recurrence — the two-sided |cumdev| scan already
  * exists as q_eng_cusum). Both are single-pass aggregates with mergeable
  * state, the property that makes them cheap at 100 TB.
  *
  * Float discipline (house rules, SURVEY §8): the only IEEE surfaces are
  * the HLL estimators, quantized to micro-units at the leaf
  * (`floor(x·1e6 + 0.5)`) so no float ever crosses an aggregation
  * boundary; everything else is exact int64/DECIMAL(38) rational
  * arithmetic with HUGEINT oracle twins.
  */
object MonitorQueries {

  private def dbl(c: Column): Column = c.cast("double")

  /** 2^49 — the HLL register-term scale: Σ_j 2^(−M_j) over m=256 registers
    * is held as the exact integer Σ_j 2^(49−M_j) (each term ≤ 2^48, the sum
    * ≤ 2^57 — int64-safe), so the harmonic mean never touches a float until
    * the final alpha multiply. */
  private val HllScale = 562949953421312L

  /** One-row HyperLogLog readout for an id stream: m=256 registers from the
    * md5 first byte, rho from the next 48 bits (bit length via base-2
    * string — exact in both engines), register table is the ONLY shuffle
    * (256 rows), and the raw/linear-counting estimates are single IEEE
    * trees over the exact scaled harmonic sum, quantized to micro. The
    * mergeable-sketch shape: at 100 TB each partition holds 256 longs and
    * merge is a max per register. `exact_distinct` rides along as the
    * error readout (cheap here; the sketch is the point at scale). */
  private def hllSketch(ids: DataFrame, domain: String): DataFrame = {
    val h = md5(col("id").cast("string"))
    val base = ids.select(
      conv(substring(h, 1, 2), 16, 10).cast("long").as("reg"),
      substring(h, 3, 12).as("hw"))
    // rho = leading zeros of the 48-bit slice + 1 = 49 − bitlength; the
    // all-zero slice (bitlength undefined) is the rho = 49 convention
    val rho = when(conv(col("hw"), 16, 10).cast("long") === 0L, lit(49L))
      .otherwise(lit(49L) - length(conv(col("hw"), 16, 2)).cast("long"))
    val regs = base.select(col("reg"), rho.as("rho"))
      .groupBy(col("reg")).agg(max(col("rho")).as("mj"))
    val agg = regs.agg(count(lit(1)).as("v_hit"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - mj AS INT))"))
        .as("s_hit"))
    val exact = ids.agg(countDistinct(col("id")).as("exact_distinct"))
    agg.crossJoin(broadcast(exact))
      .withColumn("v_zero", lit(256L) - col("v_hit"))
      .withColumn("s_scaled",
        col("s_hit") + col("v_zero") * lit(HllScale))
      .select(lit(domain).as("domain"), lit(256L).as("m"), col("v_zero"),
        col("s_scaled"),
        floor(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) *
          lit(65536.0) * lit(HllScale.toDouble) / dbl(col("s_scaled")) *
          lit(1000000.0) + lit(0.5)).cast("long").as("raw_est_micro"),
        when(col("v_zero") > 0L,
          floor(lit(256.0) * log(lit(256.0) / dbl(col("v_zero"))) *
            lit(1000000.0) + lit(0.5)).cast("long")).as("lc_est_micro"),
        col("exact_distinct"))
  }

  val registry: Seq[Q] = Seq(
    // HyperLogLog cardinality over two id streams: o_custkey (1.5k+
    // distinct — saturates all 256 registers, exercising the raw harmonic
    // estimator) and c_nationkey (25 distinct — most registers empty,
    // exercising the linear-counting leg). Both estimator columns are
    // live at every SF by construction.
    Q("q_eng_hll_card", (s, d) => {
      val custs = hllSketch(
        Tables.orders(s, d).select(col("o_custkey").as("id")), "o_custkey")
      val nats = hllSketch(
        Tables.customer(s, d).select(col("c_nationkey").as("id")),
        "c_nationkey")
      custs.unionAll(nats).orderBy(col("domain"))
    },
      {
        def sketch(src: String, idExpr: String, domain: String): String =
          s"""SELECT '$domain' AS domain, CAST(256 AS BIGINT) AS m,
              CAST(256 - v_hit AS BIGINT) AS v_zero,
              CAST(s_hit + (256 - v_hit) * $HllScale AS BIGINT) AS s_scaled,
              CAST(floor(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
                   * $HllScale.0
                   / CAST(s_hit + (256 - v_hit) * $HllScale AS DOUBLE)
                   * 1000000.0 + 0.5) AS BIGINT) AS raw_est_micro,
              CASE WHEN 256 - v_hit > 0
                   THEN CAST(floor(256.0 * ln(256.0
                        / CAST(256 - v_hit AS DOUBLE)) * 1000000.0 + 0.5)
                        AS BIGINT) END AS lc_est_micro,
              (SELECT CAST(count(DISTINCT $idExpr) AS BIGINT) FROM $src)
                AS exact_distinct
           FROM (
             SELECT CAST(count(*) AS BIGINT) AS v_hit,
                    CAST(sum(1::BIGINT << CAST(49 - mj AS INTEGER))
                      AS BIGINT) AS s_hit
             FROM (
               SELECT reg, CAST(max(CASE WHEN w = 0 THEN 49
                 ELSE 49 - length(bin(w)) END) AS BIGINT) AS mj
               FROM (
                 SELECT CAST('0x' || substr(h, 1, 2) AS BIGINT) AS reg,
                        CAST('0x' || substr(h, 3, 12) AS BIGINT) AS w
                 FROM (SELECT md5(CAST($idExpr AS VARCHAR)) AS h FROM $src))
               GROUP BY 1))"""
        s"""${sketch("orders", "o_custkey", "o_custkey")}
         UNION ALL
         ${sketch("customer", "c_nationkey", "c_nationkey")}
         ORDER BY domain"""
      }),

    // CUSUM changepoint alarm on daily revenue, zero-slack mean-shift
    // form. The sequential recurrence S_t = max(0, S_{t−1} + (x_t − μ))
    // is NOT computed sequentially: with P_t = Σ_{i≤t}(x_i·n − S) (mean
    // cleared by cross-multiplication — exact integers, no float mean),
    // S_t·n = P_t − min(0, min_{k≤t} P_k), two cumulative windows over
    // the BOUNDED day domain (~2.4k rows; the fact-scale work is the one
    // daily aggregate). Top-5 alarm days, fully tie-broken. cusum_scaled
    // ≤ n·Σ|x| ≲ 6e16 at sf100 — int64-safe.
    Q("q_eng_cusum_alarm", (s, d) => {
      val daily = dailyRevenue(s, d)
      val tot = daily.agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      // bounded day domain: ~2.4k rows per the fixture's fixed calendar
      // span, constant in corpus size — the global window is keys-sized
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(tot))
        .withColumn("dev", wide(col("x")) * wide(col("n")) - wide(col("sx")))
        .withColumn("p", sum(col("dev")).over(w))
        .withColumn("minp",
          least(lit(0L).cast("decimal(38,0)"), min(col("p")).over(w)))
        .select(col("day").cast("string").as("day"), col("x"),
          (col("p") - col("minp")).cast("long").as("cusum_scaled"))
        .orderBy(col("cusum_scaled").desc, col("day"))
        .limit(5)
    },
      s"""WITH daily AS (
           ${sqlDailyRevenue()}),
         t AS (SELECT CAST(sum(x) AS BIGINT) AS sx,
                      CAST(count(*) AS BIGINT) AS n FROM daily),
         p AS (SELECT day, x,
                 sum(CAST(x AS HUGEINT) * t.n - t.sx) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
               FROM daily, t),
         c AS (SELECT day, x,
                 CAST(p - least(CAST(0 AS HUGEINT), min(p) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   AS BIGINT) AS cusum_scaled
               FROM p)
         SELECT CAST(day AS VARCHAR) AS day, x, cusum_scaled FROM c
         ORDER BY cusum_scaled DESC, day LIMIT 5"""),

    // the HLL sketch ON the gate as a real Catalyst aggregate: per-type
    // distinct-user cardinalities through the SQL-registered
    // TypedImperativeAggregate (graft_hll) — a FIXED 256-byte register
    // buffer per group, partial-aggregated map-side and merged as a
    // bytewise max, so the exchange moves 256 bytes per group regardless
    // of input size. The oracle recomputes the identical register math
    // per group, so the aggregate's update/merge/eval path is
    // hash-compared cross-engine, not just spec-tested (the KMV
    // discipline, q_eng_kmv_agg).
    Q("q_eng_hll_by_type", (s, d) => {
      Tables.events(s, d).createOrReplaceTempView("hll_events")
      s.sql(
        // every literal CAST AS DOUBLE: Spark SQL parses bare decimal
        // literals as DECIMAL, whose mixed arithmetic rounds differently
        // from the pure-double tree the Column API / DuckDB evaluate
        s"""SELECT event_type, sk.v_zero AS v_zero, sk.s_scaled AS s_scaled,
                  CAST(floor(CAST(0.7213 AS DOUBLE)
                       / (CAST(1.0 AS DOUBLE)
                          + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE))
                       * CAST(65536.0 AS DOUBLE)
                       * CAST($HllScale AS DOUBLE)
                       / CAST(sk.s_scaled AS DOUBLE)
                       * CAST(1000000.0 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT) AS raw_est_micro,
                  n_exact
           FROM (SELECT event_type, graft_hll(user_id) AS sk,
                        CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
                 FROM hll_events GROUP BY event_type)
           ORDER BY event_type""")
    },
      s"""WITH b AS (
           SELECT event_type,
                  CAST('0x' || substr(h, 1, 2) AS BIGINT) AS reg,
                  CAST('0x' || substr(h, 3, 12) AS BIGINT) AS w
           FROM (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h
                 FROM events)),
         r AS (SELECT event_type, reg,
                 CAST(max(CASE WHEN w = 0 THEN 49
                   ELSE 49 - length(bin(w)) END) AS BIGINT) AS mj
               FROM b GROUP BY 1, 2),
         a AS (SELECT event_type,
                 CAST(256 - count(*) AS BIGINT) AS v_zero,
                 CAST(sum(1::BIGINT << CAST(49 - mj AS INTEGER))
                      + (256 - count(*)) * $HllScale AS BIGINT) AS s_scaled
               FROM r GROUP BY 1),
         e AS (SELECT event_type,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
               FROM events GROUP BY 1)
         SELECT a.event_type, v_zero, s_scaled,
                CAST(floor(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
                     * $HllScale.0 / CAST(s_scaled AS DOUBLE)
                     * 1000000.0 + 0.5) AS BIGINT) AS raw_est_micro,
                n_exact
         FROM a JOIN e ON e.event_type = a.event_type
         ORDER BY a.event_type""")
  )
}
