package graft.queries

import graft.Tables
import graft.functions.WideDiv.{mulDivWide, sqlMulDiv, wide}
import graft.operators.StableIds
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Round-8 wave 7: the k-group / paired / ranking-metric statistics that
  * complete the nonparametric suite (MW-U and KS cover two independent
  * samples; these add k ordered-or-unordered groups, paired samples, and
  * rank correlation) plus the ranking-quality metrics (average precision,
  * MCC/F1 threshold sweep) a labeler-audit pipeline runs next to AUC.
  *
  * Shared discipline (see EvalQueries): every rank statistic rides the
  * distinct-value [[StableIds.rankAndCumSums]] two-phase scan with DOUBLED
  * average ranks (2·avgrank is always integral under midrank tie handling),
  * all count/rank-sum arithmetic is exact int64/DECIMAL(38), and the final
  * z / H / tau normalizations are ONE identical IEEE tree over the exact
  * integers in both engines (integer-valued DECIMAL(38,0) → DOUBLE is
  * correctly rounded in both — the decSumToDouble audit, SURVEY §8 r7).
  *
  * The prediction task is [[EvalQueries.scored]]: score = order cents,
  * label = order contains a returned lineitem, groups = the ordinal
  * priority digit 1..5.
  */
object StatsQueries {

  private def scored(s: SparkSession, d: String): DataFrame =
    EvalQueries.scored(s, d)
  private val scoredSql = EvalQueries.scoredSql

  /** (cents, g=priority digit, per-value per-group counts n1..n5) plus the
    * doubled average rank of each distinct value: ar2 = 2·cumBefore + t + 1
    * where t is the value's total multiplicity. One distinct-value scan. */
  private def rankedByPriority(s: SparkSession, d: String): DataFrame = {
    val sc = scored(s, d).select(
      substring(col("o_orderpriority"), 1, 1).cast("long").as("g"),
      col("cents"))
    val cnts = (1 to 5).map(i =>
      sum(when(col("g") === i.toLong, 1L).otherwise(0L)).as(s"n$i"))
    val dist = sc.groupBy(col("cents")).agg(cnts.head, cnts.tail: _*)
      .withColumn("t",
        (1 to 5).map(i => col(s"n$i")).reduce(_ + _))
    StableIds.rankAndCumSums(dist, Seq(col("cents")),
        (1 to 5).map(i => s"n$i" -> s"c$i") :+ ("t" -> "cumt"))
      .withColumn("ar2", (col("cumt") - col("t")) * 2L + col("t") + 1L)
  }

  /** `f(g)` for each priority group g = 1..5, joined by `sep`: the SQL
    * side of the Spark bodies' `(1 to 5).map`. */
  private def perGroup(f: Int => String, sep: String = ",\n"): String =
    (1 to 5).map(f).mkString(sep)

  /** `ng_1 + … + ng_5`: the group sizes' total N. */
  private val sqlN = perGroup(g => s"ng_$g", " + ")

  private val rankedSql =
    s"""dist AS (SELECT cents,
                 ${perGroup(g => s"CAST(sum(CASE WHEN p = $g THEN 1 ELSE 0 END) AS BIGINT) AS n$g")},
                 CAST(count(*) AS BIGINT) AS t
          FROM (SELECT cents,
                       CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS p
                FROM scored)
          GROUP BY 1),
       cumt AS (SELECT *,
                  ${perGroup(g => s"CAST(sum(n$g) OVER w AS BIGINT) AS c$g")},
                  CAST(2 * (sum(t) OVER w - t) + t + 1 AS BIGINT) AS ar2
                FROM dist
                WINDOW w AS (ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"""

  val registry: Seq[Q] = Seq(
    // Kruskal–Wallis H across the five priority groups on order cents —
    // the k-group generalization of the MW-U rank test. Doubled rank sums
    // R2_g = Σ_v n_g(v)·ar2(v) stay exact integers through the one
    // distinct-value scan; H = 3·Σ R2_g²/n_g / (N(N+1)) − 3(N+1) and the
    // tie correction C = 1 − Σ(t³−t)/(N³−N) are each ONE IEEE tree over
    // the exact integer moments (Σ R2_g²/n_g evaluated per-group in
    // double — both engines run the identical tree). Output is one row;
    // every R2_g participates, so a bug in any group's rank sum moves H.
    Q("q_eng_kruskal_wallis", (s, d) => {
      val r = rankedByPriority(s, d)
      val terms = (1 to 5).map { i =>
        sum(wide(col(s"n$i")) * wide(col("ar2"))).as(s"r2_$i")
      }
      val moms = (1 to 5).map(i => sum(col(s"n$i")).as(s"ng_$i"))
      val a = r.agg(terms.head, (terms.tail ++ moms ++ Seq(
        sum(wide(col("t")) * wide(col("t")) * wide(col("t")) - col("t"))
          .as("ties"))): _*)
      def dbl(c: Column): Column = c.cast("double")
      val n = (1 to 5).map(i => col(s"ng_$i")).reduce(_ + _)
      val sumTerm = (1 to 5).map(i =>
        dbl(col(s"r2_$i")) * dbl(col(s"r2_$i")) / dbl(col(s"ng_$i")))
        .reduce(_ + _)
      val h = lit(3.0) * sumTerm / (dbl(n) * dbl(n + lit(1L))) -
        lit(3.0) * dbl(n + lit(1L))
      val c = lit(1.0) - dbl(col("ties")) /
        (dbl(n) * dbl(n) * dbl(n) - dbl(n))
      a.select(n.as("n"), lit(5L).as("k_groups"), h.as("h"),
        (h / c).as("h_tie_corrected"))
    },
      {
        // H, written once: SQL cannot reference a same-SELECT alias
        val h =
          s"""3.0 * (${perGroup(g => s"CAST(r2_$g AS DOUBLE) * CAST(r2_$g AS DOUBLE) / CAST(ng_$g AS DOUBLE)", " + ")})
              / (CAST($sqlN AS DOUBLE) * CAST($sqlN + 1 AS DOUBLE))
              - 3.0 * CAST($sqlN + 1 AS DOUBLE)"""
        s"""WITH $scoredSql, $rankedSql,
           a AS (SELECT
                   ${perGroup(g => s"CAST(sum(CAST(n$g AS HUGEINT) * ar2) AS HUGEINT) AS r2_$g")},
                   ${perGroup(g => s"CAST(sum(n$g) AS BIGINT) AS ng_$g")},
                   CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS ties
                 FROM cumt)
           SELECT CAST($sqlN AS BIGINT) AS n,
                  CAST(5 AS BIGINT) AS k_groups,
                  $h AS h,
                  ($h)
                    / (1.0 - CAST(ties AS DOUBLE)
                       / (CAST($sqlN AS DOUBLE) * CAST($sqlN AS DOUBLE)
                          * CAST($sqlN AS DOUBLE) - CAST($sqlN AS DOUBLE)))
                    AS h_tie_corrected
           FROM a"""
      }),

    // Jonckheere–Terpstra ordered-alternative trend across priorities
    // 1 < 2 < … < 5: U = Σ_{i<j} #{x∈g_i < y∈g_j} with midrank half-weight
    // for cross-group ties — doubled, U2_v = Σ_{i<j} n_j(v)·(2·belowBefore_i
    // + n_i(v)) per distinct value, summed over the one distinct-value
    // scan. E[U2] = (N² − Σn_g²)/2 exact; z uses the standard no-tie
    // normal variance 4·Var(U) = (N²(2N+3) − Σn_g²(2n_g+3))/18 (cents are
    // near-unique, so the tie deflation is negligible; the formula is the
    // cross-engine contract either way).
    Q("q_eng_jonckheere", (s, d) => {
      val r = rankedByPriority(s, d)
      // b_i(v) = 2·(#group-i values strictly below v) + n_i(v)
      val u2v = (1 to 5).flatMap { j =>
        (1 until j).map { i =>
          wide(col(s"n$j")) *
            wide((col(s"c$i") - col(s"n$i")) * 2L + col(s"n$i"))
        }
      }.reduce(_ + _)
      val a = r.agg(sum(u2v).as("u2w"),
        ((1 to 5).map(i => sum(col(s"n$i")).as(s"ng_$i")) :+
          sum(col("t")).as("n")): _*)
      def dbl(c: Column): Column = c.cast("double")
      val sumSq = (1 to 5).map(i =>
        wide(col(s"ng_$i")) * wide(col(s"ng_$i"))).reduce(_ + _)
      val sumSq23 = (1 to 5).map(i =>
        wide(col(s"ng_$i")) * wide(col(s"ng_$i")) *
          wide(col(s"ng_$i") * 2L + 3L)).reduce(_ + _)
      // v18 ≈ 2N³ stays DECIMAL(38,0) end-to-end (≈6.75e18 at sf1 — int64
      // would overflow at ~sf2 and Spark's non-ANSI decimal→long cast
      // nulls silently while DuckDB raises). DECIMAL(38,0) → DOUBLE is
      // correctly rounded in both engines; the output columns u2/e2 ≈ N²/2
      // stay BIGINT (exact to N ≈ 4.3e9 rows — the documented envelope).
      a.withColumn("u2", col("u2w").cast("long"))
        .withColumn("e2",
          mulDivWide(wide(col("n")) * wide(col("n")) - sumSq, lit(1L),
            lit(2L)))
        .withColumn("v18",
          wide(col("n")) * wide(col("n")) * wide(col("n") * 2L + 3L) -
            sumSq23)
        .select(col("n"), col("u2"), col("e2"),
          ((dbl(col("u2")) - dbl(col("e2"))) /
            sqrt(dbl(col("v18")) / lit(18.0))).as("z"))
    },
      s"""WITH $scoredSql, $rankedSql,
         a AS (SELECT
                 CAST(sum(
                   ${(2 to 5).flatMap(j => (1 until j).map(i =>
                     s"CAST(n$j AS HUGEINT) * (2 * (c$i - n$i) + n$i)")).mkString(" + ")})
                   AS HUGEINT) AS u2w,
                 ${perGroup(g => s"CAST(sum(n$g) AS BIGINT) AS ng_$g")},
                 CAST(sum(t) AS BIGINT) AS n
               FROM cumt),
         b AS (SELECT n, CAST(u2w AS BIGINT) AS u2,
                 CAST((CAST(n AS HUGEINT) * n
                       - (${perGroup(g => s"CAST(ng_$g AS HUGEINT) * ng_$g", " + ")})) // 2 AS BIGINT)
                   AS e2,
                 CAST(CAST(n AS HUGEINT) * n * (2 * n + 3)
                      - (${perGroup(g => s"CAST(ng_$g AS HUGEINT) * ng_$g * (2 * ng_$g + 3)", " + ")})
                      AS DECIMAL(38,0)) AS v18
               FROM a)
         SELECT n, u2, e2,
                (CAST(u2 AS DOUBLE) - CAST(e2 AS DOUBLE))
                  / sqrt(CAST(v18 AS DOUBLE) / 18.0) AS z
         FROM b"""),

    // Wilcoxon signed-rank on paired per-customer annual spend (1995 vs
    // 1996, customers active in both): d = cents96 − cents95, zeros
    // dropped, |d| midranked over its distinct domain (doubled ranks),
    // W2+ = Σ ranks2 of positive d. E[W2+] = n(n+1)/2 exact;
    // 4·Var(W+) = n(n+1)(2n+1)/6 − Σ(t³−t)/12 enters as the exact floored
    // integer (DECIMAL(38) twelfth), z one IEEE tree. The paired
    // complement to MW-U: same-customer year-over-year shift, robust to
    // per-customer scale.
    Q("q_eng_wilcoxon_signed", (s, d) => {
      val per = Tables.orders(s, d)
        .select(col("o_custkey").as("ck"),
          year(to_date(col("o_orderdate"))).cast("long").as("yr"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"))
        .where(col("yr").isin(1995L, 1996L))
        .groupBy(col("ck"))
        .agg(sum(when(col("yr") === 1995L, col("cents"))).as("s95"),
          sum(when(col("yr") === 1996L, col("cents"))).as("s96"))
        .where(col("s95").isNotNull && col("s96").isNotNull)
        .select((col("s96") - col("s95")).as("dv"))
        .where(col("dv") =!= 0L)
      val dist = per.groupBy(abs(col("dv")).as("ad"))
        .agg(sum(when(col("dv") > 0L, 1L).otherwise(0L)).as("npos"),
          count(lit(1)).as("t"))
      val cum = StableIds.rankAndCumSums(dist, Seq(col("ad")),
        Seq("t" -> "cumt"))
      val a = cum
        .select(col("npos"), col("t"),
          (wide(col("npos")) *
            wide((col("cumt") - col("t")) * 2L + col("t") + 1L)).as("w2term"),
          (wide(col("t")) * wide(col("t")) * wide(col("t")) - col("t"))
            .as("tieterm"))
        .agg(sum(col("w2term")).as("w2p"), sum(col("t")).as("n"),
          sum(col("tieterm")).as("ties"))
      def dbl(c: Column): Column = c.cast("double")
      // v2x12 ≈ 4n³ stays DECIMAL(38,0) (same discipline as jonckheere's
      // v18): no long cast, direct correctly-rounded decimal→double below.
      a.withColumn("w_plus_x2", col("w2p").cast("long"))
        .withColumn("e2", expr("n * (n + 1) DIV 2"))
        .withColumn("v2x12",
          wide(col("n")) * wide(col("n") + 1L) * wide(col("n") * 2L + 1L) *
            lit(2).cast("decimal(38,0)") - col("ties"))
        .select(col("n").as("n_pairs"), col("w_plus_x2"),
          ((dbl(col("w_plus_x2")) - dbl(col("e2"))) /
            sqrt(dbl(col("v2x12")) / lit(12.0))).as("z"))
    },
      """WITH yo AS (
           SELECT o_custkey,
                  CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders
           WHERE CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) IN (1995, 1996)),
         per AS (
           SELECT CAST(sum(CASE WHEN yr = 1996 THEN cents END)
                  - sum(CASE WHEN yr = 1995 THEN cents END) AS BIGINT) AS dv
           FROM yo
           GROUP BY o_custkey
           HAVING sum(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) > 0
              AND sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) > 0),
         nz AS (SELECT dv FROM per WHERE dv <> 0),
         dist AS (SELECT abs(dv) AS ad,
                    CAST(sum(CASE WHEN dv > 0 THEN 1 ELSE 0 END) AS BIGINT)
                      AS npos,
                    CAST(count(*) AS BIGINT) AS t
                  FROM nz GROUP BY 1),
         cumt AS (SELECT npos, t,
                    CAST(sum(t) OVER (ORDER BY ad
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cumt
                  FROM dist),
         a AS (SELECT
                 CAST(sum(CAST(npos AS HUGEINT) *
                   (2 * (cumt - t) + t + 1)) AS HUGEINT) AS w2p,
                 CAST(sum(t) AS BIGINT) AS n,
                 CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS ties
               FROM cumt),
         b AS (SELECT n, CAST(w2p AS BIGINT) AS w_plus_x2,
                 CAST(n * (n + 1) // 2 AS BIGINT) AS e2,
                 CAST(CAST(n AS HUGEINT) * (n + 1) * (2 * n + 1) * 2 - ties
                   AS DECIMAL(38,0)) AS v2x12
               FROM a)
         SELECT n AS n_pairs, w_plus_x2,
                (CAST(w_plus_x2 AS DOUBLE) - CAST(e2 AS DOUBLE))
                  / sqrt(CAST(v2x12 AS DOUBLE) / 12.0) AS z
         FROM b"""),

    // Kendall tau-b between daily order count and daily revenue over the
    // BOUNDED day domain (the mann_kendall/theil_sen discipline: the
    // O(days²) pair table is constant in corpus size — only the daily
    // aggregate touches fact-scale data). Concordant/discordant pair
    // counts and the tau-b tie terms n1 = Σtx(tx−1)/2, n2 = Σty(ty−1)/2
    // are exact integers; tau_b = (nc−nd)/√((n0−n1)(n0−n2)) is one IEEE
    // tree (all operands < 2^53 for any realistic day domain — exact).
    Q("q_eng_kendall_tau", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("x"),
          sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
            .as("y"))
      val pairs = daily.as("a")
        .join(broadcast(daily).as("b"), col("a.day") < col("b.day"))
        .select((col("b.x") - col("a.x")).as("dx"),
          (col("b.y") - col("a.y")).as("dy"))
        .agg(sum(when(col("dx") > 0L && col("dy") > 0L, 1L)
          .when(col("dx") < 0L && col("dy") < 0L, 1L).otherwise(0L)).as("nc"),
          sum(when(col("dx") > 0L && col("dy") < 0L, 1L)
            .when(col("dx") < 0L && col("dy") > 0L, 1L).otherwise(0L)).as("nd"))
      val ties = daily.agg(count(lit(1)).as("n_days")).crossJoin(
        broadcast(daily.groupBy(col("x")).agg(count(lit(1)).as("tx"))
          .agg(sum(expr("tx * (tx - 1) DIV 2")).as("n1x"))))
        .crossJoin(
          broadcast(daily.groupBy(col("y")).agg(count(lit(1)).as("ty"))
            .agg(sum(expr("ty * (ty - 1) DIV 2")).as("n1y"))))
      def dbl(c: Column): Column = c.cast("double")
      pairs.crossJoin(broadcast(ties))
        .withColumn("n0", expr("n_days * (n_days - 1) DIV 2"))
        .select(col("n_days"), col("nc"), col("nd"),
          col("n1x").as("ties_x"), col("n1y").as("ties_y"),
          ((dbl(col("nc")) - dbl(col("nd"))) /
            sqrt(dbl(col("n0") - col("n1x")) * dbl(col("n0") - col("n1y"))))
            .as("tau_b"))
    },
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS x,
                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS y
           FROM orders GROUP BY 1),
         pairs AS (SELECT
                     CAST(sum(CASE WHEN (b.x > a.x AND b.y > a.y)
                                     OR (b.x < a.x AND b.y < a.y)
                              THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                     CAST(sum(CASE WHEN (b.x > a.x AND b.y < a.y)
                                     OR (b.x < a.x AND b.y > a.y)
                              THEN 1 ELSE 0 END) AS BIGINT) AS nd
                   FROM daily a JOIN daily b ON a.day < b.day),
         tx AS (SELECT CAST(sum(tx * (tx - 1) // 2) AS BIGINT) AS n1x
                FROM (SELECT CAST(count(*) AS BIGINT) AS tx
                      FROM daily GROUP BY x)),
         ty AS (SELECT CAST(sum(ty * (ty - 1) // 2) AS BIGINT) AS n1y
                FROM (SELECT CAST(count(*) AS BIGINT) AS ty
                      FROM daily GROUP BY y)),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
         SELECT n_days, nc, nd, n1x AS ties_x, n1y AS ties_y,
                (CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE))
                  / sqrt(CAST(n_days * (n_days - 1) // 2 - n1x AS DOUBLE)
                       * CAST(n_days * (n_days - 1) // 2 - n1y AS DOUBLE))
                  AS tau_b
         FROM pairs, tx, ty, nn"""),

    // Average precision of the cents score against the returned label,
    // with deterministic tie-block handling: scores ranked DESCENDING over
    // the distinct-value domain, each block contributes
    // np(s)·⌊1e12·cumPos(s)/cumN(s)⌋ (precision evaluated at block end —
    // the truncation IS the cross-engine contract, as in the isotonic
    // minimax), AP_micro = ⌊Σterm·1e6/(P·1e12)⌋. The PR-curve companion
    // to q_eng_auc, same one-scan rankAndCumSums shape.
    Q("q_eng_avg_precision", (s, d) => {
      val dist = scored(s, d).groupBy(col("cents"))
        .agg(sum(col("label")).as("np"),
          (count(lit(1)) - sum(col("label"))).as("nn"))
        .withColumn("negc", -col("cents"))
      val cum = StableIds.rankAndCumSums(dist, Seq(col("negc")),
        Seq("np" -> "cumnp", "nn" -> "cumnn"))
      cum
        .select(col("np"), col("nn"),
          (wide(col("np")) *
            wide(mulDivWide(col("cumnp"), lit(1000000000000L),
              col("cumnp") + col("cumnn")))).as("term"))
        .agg(sum(col("term")).as("s"), sum(col("np")).as("npos"),
          sum(col("nn")).as("nneg"))
        .select(col("npos"), col("nneg"),
          mulDivWide(col("s"), lit(1000000L),
            wide(col("npos")) * lit(1000000000000L).cast("decimal(38,0)"))
            .as("ap_micro"))
    },
      s"""WITH $scoredSql,
         dist AS (SELECT cents, CAST(sum(label) AS BIGINT) AS np,
                    CAST(count(*) - sum(label) AS BIGINT) AS nn
                  FROM scored GROUP BY 1),
         cumt AS (SELECT np, nn,
                    CAST(sum(np) OVER w AS BIGINT) AS cumnp,
                    CAST(sum(nn) OVER w AS BIGINT) AS cumnn
                  FROM dist
                  WINDOW w AS (ORDER BY cents DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         a AS (SELECT
                 CAST(sum(CAST(np AS HUGEINT) *
                   (CAST(cumnp AS HUGEINT) * 1000000000000
                      // (cumnp + cumnn))) AS HUGEINT) AS s,
                 CAST(sum(np) AS BIGINT) AS npos,
                 CAST(sum(nn) AS BIGINT) AS nneg
               FROM cumt)
         SELECT npos, nneg,
                ${sqlMulDiv("s", "1000000",
        "CAST(npos AS HUGEINT) * 1000000000000")} AS ap_micro
         FROM a"""),

    // MCC / F1 threshold sweep at the nine score-decile cuts: rows ranked
    // once through StableIds.withRank (no global window), bucketed into
    // equidepth deciles, confusion counts at each "predict positive above
    // decile b" cut via a 10×9 bounded grid join. F1 exact in ppm; MCC is
    // the usual one IEEE tree over the four exact counts. The
    // threshold-robustness readout a labeler audit runs next to the
    // single-number AUC.
    Q("q_eng_mcc_sweep", (s, d) => {
      val sc = scored(s, d)
      val tot = sc.agg(count(lit(1)).as("n_tot"), sum(col("label")).as("p_tot"))
      val decs = StableIds.withRank(sc,
          Seq(col("cents"), col("o_orderkey")), "rk")
        .crossJoin(broadcast(tot))
        .withColumn("dec", expr("(rk - 1) * 10 DIV n_tot"))
        .groupBy(col("dec"))
        .agg(count(lit(1)).as("n_d"), sum(col("label")).as("pos_d"))
      val grid = s.range(1).select(explode(sequence(lit(1L), lit(9L))).as("b"))
      def dbl(c: Column): Column = c.cast("double")
      decs.crossJoin(broadcast(grid))
        .where(col("dec") >= col("b"))
        .groupBy(col("b"))
        .agg(sum(col("pos_d")).as("tp"), sum(col("n_d")).as("pp"))
        .crossJoin(broadcast(tot))
        .withColumn("fp", col("pp") - col("tp"))
        .withColumn("fn", col("p_tot") - col("tp"))
        .withColumn("tn", col("n_tot") - col("pp") - col("fn"))
        .select(col("b").as("decile_cut"), col("tp"), col("fp"), col("fn"),
          col("tn"),
          mulDivWide(col("tp") * 2L, lit(1000000L),
            col("tp") * 2L + col("fp") + col("fn")).as("f1_ppm"),
          ((dbl(col("tp")) * dbl(col("tn")) - dbl(col("fp")) * dbl(col("fn"))) /
            sqrt(dbl(col("tp") + col("fp")) * dbl(col("tp") + col("fn")) *
              dbl(col("tn") + col("fp")) * dbl(col("tn") + col("fn"))))
            .as("mcc"))
        .orderBy(col("decile_cut"))
    },
      s"""WITH $scoredSql,
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot,
                        CAST(sum(label) AS BIGINT) AS p_tot FROM scored),
         ranked AS (SELECT label,
                      CAST(row_number() OVER (ORDER BY cents, o_orderkey)
                        AS BIGINT) AS rk
                    FROM scored),
         decs AS (SELECT CAST((rk - 1) * 10 // t.n_tot AS BIGINT) AS dec,
                         CAST(count(*) AS BIGINT) AS n_d,
                         CAST(sum(label) AS BIGINT) AS pos_d
                  FROM ranked, tot t GROUP BY 1),
         grid AS (SELECT CAST(range AS BIGINT) AS b FROM range(1, 10)),
         cuts AS (SELECT g.b,
                    CAST(sum(d.pos_d) AS BIGINT) AS tp,
                    CAST(sum(d.n_d) AS BIGINT) AS pp
                  FROM decs d JOIN grid g ON d.dec >= g.b
                  GROUP BY 1),
         cm AS (SELECT b, tp, pp - tp AS fp, t.p_tot - tp AS fn,
                       t.n_tot - pp - (t.p_tot - tp) AS tn
                FROM cuts, tot t)
         SELECT b AS decile_cut, tp, fp, fn, tn,
                CAST(CAST(tp AS HUGEINT) * 2 * 1000000
                     // (tp * 2 + fp + fn) AS BIGINT) AS f1_ppm,
                (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
                 - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
                  / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
                       * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))
                  AS mcc
         FROM cm
         ORDER BY decile_cut""")
  )
}
