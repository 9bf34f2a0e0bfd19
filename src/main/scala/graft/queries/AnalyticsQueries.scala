package graft.queries

import graft.Tables
import graft.functions.WideDiv.{mulDivWide, mulDivWideDec, ppmWide, sqlMulDiv, wide}
import graft.queries.QueryBlocks.{dailyRevenue, moneySum, orderParts,
  sqlDailyRevenue, sqlLangLengthSample, sqlMoneySum, sqlOrderParts,
  sqlSampleQuantiles}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Round-5 analytics wave: the remaining TPC-H shapes expressible on the
  * harness schema, graph traversal (BFS hop distance), and robust statistics
  * (exact median-absolute-deviation outliers).
  *
  * Same determinism contract as [[EngineQueries]]: money through exact
  * DECIMAL accumulation, medians through exact integer cents + rank
  * selection (no interpolation), doubles only as the final cast of
  * identical IEEE expression trees over exact integer inputs.
  */
object AnalyticsQueries {

  /** Memoized weighted co-purchase graph (parts sharing ≥ 2 orders),
    * directed both ways: (src, dst, w) with w = co-occurrence count. The
    * BFS and shortest-path queries reference it once per hop — without
    * the cache every reference re-runs the lineitem self-join. */
  private def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    QueryCaches.memo(s, d, "copurchase_edges") {
      val op = orderParts(s, d)
      val und = op.as("a")
        .join(op.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("u"), col("b.p").as("v"))
        .agg(count(lit(1)).as("w"))
        .where(col("w") >= 2)
      und.select(col("u").as("src"), col("v").as("dst"), col("w"))
        .union(und.select(col("v").as("src"), col("u").as("dst"), col("w")))
    }

  /** Friedman χ² (tie-corrected) from a (nk, prio, sv, cv) cell frame —
    * block key, treatment, value sum (DECIMAL), value count. Midranks via
    * pairwise cross-multiplied mean comparisons on the bounded cell table
    * (2× scaling keeps tied midranks integer); incomplete blocks dropped.
    * Factored so specs can drive synthetic frames with EXACT mean ties —
    * cross-multiplied equality essentially never fires on fixture money
    * sums, so the tie branch is pinned synthetically. */
  private[queries] def friedmanFromCells(cells: DataFrame,
                                         k: Long): DataFrame = {
    val complete = cells.groupBy(col("nk"))
      .agg(count(lit(1)).as("nprio")).where(col("nprio") === k)
      .select(col("nk").as("nk_ok"))
    val cc = cells.join(broadcast(complete), col("nk") === col("nk_ok"))
      .select(col("nk"), col("prio"), col("sv"), col("cv"))
    val r2 = cc.as("a")
      .join(cc.as("b"), col("a.nk") === col("b.nk"))
      .groupBy(col("a.nk").as("nk"), col("a.prio").as("prio"))
      .agg((sum(when(col("b.sv") * wide(col("a.cv")) <
            col("a.sv") * wide(col("b.cv")), 2L)
          .when(col("b.sv") * wide(col("a.cv")) ===
            col("a.sv") * wide(col("b.cv")), 1L)
          .otherwise(0L)) + 1L).as("r2"))
    val perPrio = r2.groupBy(col("prio"))
      .agg(sum(col("r2")).as("rj2"), sum(col("r2") * col("r2")).as("a2p"))
    val b = r2.select(col("nk")).distinct().agg(count(lit(1)).as("b"))
    perPrio
      .agg(sum(col("rj2") * col("rj2")).as("b2"), sum(col("a2p")).as("a2"))
      .crossJoin(broadcast(b))
      .select(col("b").as("n_blocks"),
        mulDivWide(
          wide(lit(k - 1)) * (wide(col("b2")) -
            wide(col("b")) * wide(col("b")) * lit(k * (k + 1) * (k + 1))
              .cast("decimal(38,0)")),
          lit(1000000L),
          wide(col("a2")) - wide(col("b")) *
            lit(k * (k + 1) * (k + 1)).cast("decimal(38,0)"))
          .as("chi2_ppm"))
  }

  /** Shared SQL CTE chain for the same graph (mirrors [[copurchaseEdges]]). */
  private val copurchaseSql =
    s"""op AS ($sqlOrderParts),
       und AS MATERIALIZED (SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS w
               FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
               GROUP BY 1, 2 HAVING count(*) >= 2),
       e AS MATERIALIZED (SELECT u AS src, v AS dst, w FROM und
             UNION ALL SELECT v, u, w FROM und)"""

  /** Customer account balances in integer cents `(seg, ck, cents)`, by
    * market segment. */
  private def segmentCents(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_mktsegment").as("seg"), col("c_custkey").as("ck"),
      floor(col("c_acctbal") * 100 + 0.5).cast("long").as("cents"))

  /** DuckDB oracle twin for [[segmentCents]] and its per-segment doubled
    * median by the naive full-window rank selection: CTEs `c`,
    * `r1(<r1Cols>, rn, n)` and `m(seg, <out>)`. */
  private def sqlSegmentMedian2(r1Cols: String, out: String): String =
    s"""c AS (
           SELECT c_mktsegment AS seg, c_custkey AS ck,
                  CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
           FROM customer),
         r1 AS (
           SELECT $r1Cols,
                  row_number() OVER (PARTITION BY seg ORDER BY cents, ck) AS rn,
                  count(*) OVER (PARTITION BY seg) AS n
           FROM c),
         m AS (
           SELECT seg,
                  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN cents END)
                     + max(CASE WHEN rn = n // 2 + 1 THEN cents END)
                   AS BIGINT) AS $out
           FROM r1 GROUP BY seg)"""

  /** Event values in integer cents `(user_id, us, vc)`, `us` the event
    * time in epoch micros, with the stream's time midpoint `mid`. */
  private def eventCentsMid(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("vc"))
    val mid = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(expr("mn + (mx - mn) DIV 2").as("mid"))
    ev.crossJoin(broadcast(mid))
  }

  /** DuckDB oracle twin for [[eventCentsMid]]: a WITH chain of CTEs `ev`
    * and `mid`, read as `FROM ev, mid`. */
  private val sqlEventCentsMid =
    """WITH ev AS (
           SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                  CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
           FROM events),
         mid AS (SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM ev)"""

  /** The (event type × weekday) contingency table `cells(et, dow, o)` with
    * its row totals `(et, r)` and column totals `(dow, c)`; weekday 0 is
    * Monday, from a sign-safe day difference to 1995-01-02. */
  private def weekdayContingency(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = Tables.events(s, d).select(col("event_type").as("et"),
      pmod(datediff(to_date(col("ts")), to_date(lit("1995-01-02")))
        .cast("long"), lit(7L)).as("dow"))
    val cells = base.groupBy("et", "dow").agg(count(lit(1)).as("o"))
    (cells, cells.groupBy("et").agg(sum("o").as("r")),
      cells.groupBy("dow").agg(sum("o").as("c")))
  }

  /** DuckDB oracle twin for [[weekdayContingency]]: a WITH chain of CTEs
    * `base`, `cells`, `rt` and `ct`. */
  private val sqlWeekdayContingency =
    """WITH base AS (
           SELECT event_type AS et,
                  ((datediff('day', DATE '1995-01-02', CAST(ts AS DATE)) % 7)
                   + 7) % 7 AS dow
           FROM events),
         cells AS (SELECT et, CAST(dow AS BIGINT) AS dow,
                          CAST(count(*) AS BIGINT) AS o
                   FROM base GROUP BY 1, 2),
         rt AS (SELECT et, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
         ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1)"""

  val registry: Seq[Q] = Seq(
    // TPC-H Q13 shape: how many customers placed exactly k orders,
    // including the zero-order tail the inner join would drop. Orders
    // pre-aggregate by custkey first (partial agg before the one shuffle);
    // the left join then moves only (custkey, count) — never order rows —
    // and the final histogram aggregate is vocabulary-sized
    Q("q_eng_customer_dist", (s, d) => {
      val oc = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"))
      Tables.customer(s, d).select(col("c_custkey"))
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(coalesce(col("cnt"), lit(0L)).as("n_orders"))
        .groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_custs"))
        .orderBy(col("n_custs").desc, col("n_orders").desc)
    },
      """WITH oc AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
                     FROM orders GROUP BY 1)
         SELECT n_orders, CAST(count(*) AS BIGINT) AS n_custs
         FROM (SELECT COALESCE(cnt, 0) AS n_orders
               FROM customer LEFT JOIN oc ON c_custkey = o_custkey)
         GROUP BY 1
         ORDER BY n_custs DESC, n_orders DESC"""),

    // TPC-H Q6 shape: forecasting-revenue-change — a pure
    // scan→filter→aggregate with NO join. The whole point at 100 TB is
    // the plan: every predicate (date range, discount band, quantity)
    // pushes to the parquet scan, the projection prunes to 4 columns,
    // and one partial-aggregated exchange carries two numbers
    Q("q_eng_discount_revenue", (s, d) =>
      Tables.lineitem(s, d)
        .where(to_date(col("l_shipdate")) >= to_date(lit("1995-01-01")) &&
          to_date(col("l_shipdate")) < to_date(lit("1996-01-01")) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(count(lit(1)).as("n_lines"),
          moneySum(col("l_extendedprice") * col("l_discount")).as("revenue")),
      s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
                 ${sqlMoneySum("l_extendedprice * l_discount")} AS revenue
          FROM lineitem
          WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01'
            AND CAST(l_shipdate AS DATE) < DATE '1996-01-01'
            AND l_discount >= 0.05 AND l_discount <= 0.07
            AND l_quantity < 24"""),

    // single-source BFS hop distance over the co-purchase graph (parts
    // sharing an order ≥ 2 times), seeded at the smallest node. Classic
    // iterative frontier expansion: per hop ONE equi-join of the edge
    // table against the (broadcast-small) frontier plus an anti-join
    // against the visited set — no transitive-closure blow-up, and the
    // dedup inside each hop keeps frontier rows ≤ |V| regardless of edge
    // multiplicity. The oracle's recursive CTE (UNION dedup + min(hop))
    // proves the unrolled joins compute true shortest hop counts
    Q("q_eng_bfs_hops", (s, d) => {
      // every hop joins the edge table against the frontier AND
      // anti-joins the visited set — memoize the co-purchase edge build
      // (a lineitem self-join) so the three hops reuse one
      // materialization instead of re-running it per reference
      val edges = copurchaseEdges(s, d)
      val seed = edges.agg(min(col("src")).as("node"))
        .select(col("node"), lit(0L).as("hop"))
      // bfsHops cuts lineage after every hop but the last, as every
      // iterative operator here does: uncut, the hop-h plan references
      // the hop-(h−1) chain twice (next-join + visited anti-join) and
      // Spark re-runs the shared subplans (measured 7.8 s for this 3-hop
      // BFS, whose per-hop work is sub-second on the cached edges)
      graft.operators.Graph.bfsHops(edges, seed, maxHops = 3)
        .orderBy("node")
    },
      s"""WITH RECURSIVE
         $copurchaseSql,
         seed AS (SELECT min(src) AS s FROM e),
         bfs(node, hop) AS (
           SELECT s, 0 FROM seed
           UNION
           SELECT e.dst, bfs.hop + 1
           FROM bfs JOIN e ON e.src = bfs.node WHERE bfs.hop < 3)
         SELECT node, CAST(min(hop) AS BIGINT) AS hop
         FROM bfs GROUP BY 1 ORDER BY node"""),

    // robust outlier report: per market segment, the exact median and
    // median-absolute-deviation of account balances in integer cents,
    // and the count of |x − med| > 3·MAD outliers. Medians come from the
    // rank-selection trick (the two middle ranks, summed — so even-n
    // medians stay integer at 2× scale, no float interpolation), applied
    // twice: once on balances, once on the absolute deviations — BOTH
    // through the bucket-pruned two-phase
    // [[graft.operators.WeightedMedian.medianRank2]], so no window ever
    // sorts a whole segment: per-bucket counts shuffle at full
    // parallelism and only the (≤ 2 per segment) buckets containing a
    // middle rank are re-scanned. The DuckDB oracle runs the naive
    // full-window formulation, so gate equality proves the rewrite
    Q("q_eng_mad_outliers", (s, d) => {
      val c = segmentCents(s, d)

      def med2(df: DataFrame, value: String, ord: String, out: String): DataFrame =
        graft.operators.WeightedMedian.medianRank2(df,
            grp = col("seg"), v = col(value), ord = col(ord),
            bucketWidth = 10000.0)
          .select(col("grp").as("seg"), col("med2").as(out))

      val m = med2(c, "cents", "ck", "median_cents2")
      val dev = c.join(broadcast(m), "seg")
        .withColumn("d2", abs(col("cents") * 2 - col("median_cents2")))
      val mad = med2(dev, "d2", "ck", "mad_cents4")
      dev.join(broadcast(mad), "seg")
        .groupBy("seg")
        .agg(count(lit(1)).as("n"),
          first(col("median_cents2")).as("median_cents2"),
          first(col("mad_cents4")).as("mad_cents4"),
          count(when(col("d2") * 2 > col("mad_cents4") * 3, 1)).as("n_outliers"))
        .orderBy("seg")
    },
      s"""WITH ${sqlSegmentMedian2("seg, cents", "median_cents2")},
         dv AS (
           SELECT c.seg, c.ck, abs(c.cents * 2 - m.median_cents2) AS d2,
                  m.median_cents2
           FROM c JOIN m ON c.seg = m.seg),
         r2 AS (
           SELECT seg, d2,
                  row_number() OVER (PARTITION BY seg ORDER BY d2, ck) AS rn,
                  count(*) OVER (PARTITION BY seg) AS n
           FROM dv),
         mad AS (
           SELECT seg,
                  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN d2 END)
                     + max(CASE WHEN rn = n // 2 + 1 THEN d2 END)
                   AS BIGINT) AS mad_cents4
           FROM r2 GROUP BY seg)
         SELECT dv.seg AS seg, CAST(count(*) AS BIGINT) AS n,
                CAST(min(dv.median_cents2) AS BIGINT) AS median_cents2,
                CAST(min(mad.mad_cents4) AS BIGINT) AS mad_cents4,
                CAST(count(CASE WHEN dv.d2 * 2 > mad.mad_cents4 * 3 THEN 1 END)
                  AS BIGINT) AS n_outliers
         FROM dv JOIN mad ON dv.seg = mad.seg
         GROUP BY 1 ORDER BY seg"""),

    // last-touch marketing attribution: each purchase is credited to the
    // same user's most recent preceding click within a 7-day lookback.
    // One window over the per-user event stream (a single user_id
    // shuffle) carries the last-click timestamp forward — no self-join,
    // no per-purchase range scan; the as-of semantics ride the running
    // `last(..., ignoreNulls)` frame
    Q("q_eng_attribution", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value"))
        .withColumn("click_ts",
          last(when(col("event_type") === "click", col("ts")),
            ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .withColumn("bucket",
          when(col("click_ts").isNotNull &&
            col("ts") <= col("click_ts") + expr("INTERVAL 7 DAYS"),
            lit("attributed")).otherwise(lit("organic")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_purchases"),
          countDistinct("user_id").as("n_users"),
          moneySum(col("value")).as("revenue"))
        .orderBy("bucket")
    },
      """WITH w AS (
           SELECT event_id, user_id, ts, event_type, value,
                  last_value(CASE WHEN event_type = 'click' THEN ts END
                             IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS click_ts
           FROM events)
         SELECT CASE WHEN click_ts IS NOT NULL
                      AND ts <= click_ts + INTERVAL 7 DAY
                     THEN 'attributed' ELSE 'organic' END AS bucket,
                CAST(count(*) AS BIGINT) AS n_purchases,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000
                       AS DECIMAL(38,0)) AS DOUBLE) / 1000000.0 AS revenue
         FROM w WHERE event_type = 'purchase'
         GROUP BY 1 ORDER BY bucket"""),

    // chi-square independence scan (event type × weekday): per-cell
    // contribution (O·N − R·C)²/(R·C·N) from exact long counts — the
    // margins are two vocabulary-sized aggregates joined back to the
    // contingency cells, all broadcast-scale after the one fact
    // aggregation. Doubles appear only as identically-shaped IEEE
    // expressions over the exact integers, so the gate stays bitwise
    Q("q_eng_chi_square", (s, d) => {
      val (cells, rowT, colT) = weekdayContingency(s, d)
      val tot = cells.agg(sum("o").as("n"))
      val dvn = (col("o") * col("n") - col("r") * col("c")).cast("double")
      cells.join(broadcast(rowT), "et").join(broadcast(colT), "dow")
        .crossJoin(broadcast(tot))
        .select(col("et"), col("dow"), col("o").as("observed"),
          (dvn * dvn / (col("r").cast("double") * col("c").cast("double") *
            col("n").cast("double"))).as("chi2_contrib"))
        .orderBy("et", "dow")
    },
      s"""$sqlWeekdayContingency,
         t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
         SELECT et, dow, o AS observed,
                CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE)
                  / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(n AS DOUBLE))
                  AS chi2_contrib
         FROM cells
         JOIN rt USING (et)
         JOIN ct USING (dow)
         CROSS JOIN t
         ORDER BY et, dow"""),

    // Cramér's V effect size for the same (event type × weekday)
    // contingency: V = sqrt(χ² / (n · (min(r,c) − 1))). Unlike
    // q_eng_chi_square (per-cell double contributions), the TOTAL χ²
    // crosses engines here, so per-cell contributions are floored to
    // exact integer micro-units via the DECIMAL(38) wide path — the SUM
    // is then exact integer arithmetic with no cross-engine float
    // summation-order surface; the oracle mirrors each per-cell floor.
    // V itself is one identical IEEE tree over the exact integers.
    // (dev² · 1e6 stays inside DECIMAL(38) up to ~1e7-row×margin scales;
    // beyond that the margins pre-scale to per-million shares first.)
    Q("q_eng_cramers_v", (s, d) => {
      val (cells, rowT, colT) = weekdayContingency(s, d)
      val tot = cells.agg(sum("o").as("n"),
        countDistinct(col("et")).as("nr"), countDistinct(col("dow")).as("nc"))
      val dev = wide(col("o")) * wide(col("n")) - wide(col("r")) * wide(col("c"))
      cells.join(broadcast(rowT), "et").join(broadcast(colT), "dow")
        .crossJoin(broadcast(tot))
        .select(mulDivWide(dev * dev, lit(1000000L),
            wide(col("r")) * wide(col("c")) * wide(col("n"))).as("contrib"),
          col("n"), col("nr"), col("nc"))
        .groupBy(col("n"), col("nr"), col("nc"))
        .agg(sum(col("contrib")).as("chi2_micro"))
        .select(col("chi2_micro"), col("n"),
          (least(col("nr"), col("nc")) - lit(1L)).as("min_dim"),
          sqrt(col("chi2_micro").cast("double") /
            (lit(1000000.0) * col("n").cast("double") *
              (least(col("nr"), col("nc")) - lit(1L)).cast("double")))
            .as("cramers_v"))
    },
      s"""$sqlWeekdayContingency,
         t AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                      CAST(count(DISTINCT et) AS BIGINT) AS nr,
                      CAST(count(DISTINCT dow) AS BIGINT) AS nc
               FROM cells),
         cj AS (SELECT CAST(o AS HUGEINT) * t.n - CAST(r AS HUGEINT) * c AS dev,
                       CAST(r AS HUGEINT) * c * t.n AS den,
                       t.n AS n, t.nr AS nr, t.nc AS nc
                FROM cells JOIN rt USING (et) JOIN ct USING (dow)
                CROSS JOIN t),
         k AS (SELECT CAST(sum(dev * dev * 1000000 // den) AS BIGINT)
                        AS chi2_micro,
                      CAST(max(n) AS BIGINT) AS n,
                      CAST(max(nr) AS BIGINT) AS nr,
                      CAST(max(nc) AS BIGINT) AS nc
               FROM cj)
         SELECT chi2_micro, n,
                CAST(least(nr, nc) - 1 AS BIGINT) AS min_dim,
                sqrt(CAST(chi2_micro AS DOUBLE) /
                     (1000000.0 * CAST(n AS DOUBLE) *
                      CAST(least(nr, nc) - 1 AS DOUBLE))) AS cramers_v
         FROM k"""),

    // Good-Turing frequency smoothing over the customer "species" domain:
    // p0 = N₁/N estimates the probability mass of NEVER-seen buyers in the
    // next order stream, and r* = (r+1)·N_{r+1}/N_r re-estimates the true
    // rate of customers seen r times — the novelty-rate statistic a
    // pipeline uses to size how much of tomorrow's stream is new entities.
    // (Word tokens are the textbook domain, but this fixture's 31-token
    // vocabulary has no r ≤ 5 tail — min token freq 26 — so the gate row
    // would be vacuous there; orders-per-customer has a real singleton
    // tail at every SF.) One fact aggregate → customer-domain freq table →
    // bounded freq-of-freqs; the r=0 output row carries (N, N₁, p0_ppm)
    // through the SAME (r+1)·n_next·1e6/n_r formula, exact via the wide
    // floor-division path.
    Q("q_eng_good_turing", (s, d) => {
      val freq = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("r"))
      val fof = freq.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
      val tot = fof.agg(sum(col("r") * col("n_r")).as("n_obs"))
      val nxt = fof.select((col("r") - lit(1L)).as("r0"), col("n_r").as("nn"))
      val rows5 = fof.where(col("r") <= 5)
        .join(nxt, col("r") === col("r0"), "left")
        .select(col("r"), col("n_r"),
          coalesce(col("nn"), lit(0L)).as("n_next"))
      val row0 = fof.where(col("r") === 1L)
        .crossJoin(broadcast(tot))
        .select(lit(0L).as("r"), col("n_obs").as("n_r"),
          col("n_r").as("n_next"))
      rows5.unionByName(row0)
        .select(col("r"), col("n_r"), col("n_next"),
          mulDivWide((col("r") + lit(1L)) * col("n_next"), lit(1000000L),
            col("n_r")).as("gt_ppm"))
        .orderBy(col("r"))
    },
      """WITH f AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS r
                    FROM orders GROUP BY 1),
         fof AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM f GROUP BY r),
         tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n_obs FROM fof),
         rows5 AS (SELECT a.r, a.n_r,
                          CAST(COALESCE(b.n_r, 0) AS BIGINT) AS n_next
                   FROM fof a LEFT JOIN fof b ON b.r = a.r + 1
                   WHERE a.r <= 5),
         row0 AS (SELECT CAST(0 AS BIGINT) AS r, tot.n_obs AS n_r,
                         fof.n_r AS n_next
                  FROM fof CROSS JOIN tot WHERE fof.r = 1),
         u AS (SELECT * FROM rows5 UNION ALL SELECT * FROM row0)
         SELECT r, n_r, n_next,
                CAST((r + 1) * CAST(n_next AS HUGEINT) * 1000000 // n_r
                  AS BIGINT) AS gt_ppm
         FROM u ORDER BY r"""),

    // Brown–Forsythe (median-centered Levene) homogeneity-of-variance test
    // across market segments on account balances: z = |2x − med2_g| stays
    // integer via the same 2×-median rank-selection trick as
    // q_eng_mad_outliers (bucket-pruned two-phase medianRank2 — no
    // full-group sort), and W = ((N−k)/(k−1))·SSB/SSW is carried as exact
    // integer rationals: both sums multiply through by N, the per-group
    // S_g²·N/n_g terms floor through DECIMAL(38) (mirrored floor-for-floor
    // in the oracle), and the single output ratio floors once to ppm.
    Q("q_eng_levene_bf", (s, d) => {
      val c = segmentCents(s, d)
      val m = graft.operators.WeightedMedian.medianRank2(c,
          grp = col("seg"), v = col("cents"), ord = col("ck"),
          bucketWidth = 10000.0)
        .select(col("grp").as("seg"), col("med2"))
      val z = c.join(broadcast(m), "seg")
        .select(col("seg"), abs(col("cents") * 2 - col("med2")).as("z"))
      val g = z.groupBy(col("seg"))
        .agg(count(lit(1)).as("n_g"), sum(wide(col("z"))).as("s_g"),
          sum(wide(col("z")) * wide(col("z"))).as("q_g"))
      val tot = g.agg(sum(col("n_g")).as("n"), count(lit(1)).as("k"),
        sum(col("s_g")).as("s"), sum(col("q_g")).as("q"))
      g.crossJoin(broadcast(tot))
        .select(mulDivWideDec(col("s_g") * col("s_g"), col("n"),
            col("n_g")).as("term"),
          col("n"), col("k"), col("s"), col("q"))
        .groupBy(col("n"), col("k"), col("s"), col("q"))
        .agg(sum(col("term")).as("termsum"))
        .select(col("n"), col("k"),
          // signed (truncating) variant: the numerator is mathematically
          // ≥ 0 (SSB·N) but the mirrored per-group floors could push a
          // near-zero value fractionally negative, and DuckDB's HUGEINT
          // `//` truncates toward zero there — mulDivWideSigned is its
          // exact twin on both signs
          graft.functions.WideDiv.mulDivWideSigned(
            (col("termsum") - col("s") * col("s")) * wide(col("n") - col("k")),
            lit(1000000L),
            (col("q") * wide(col("n")) - col("termsum")) *
              wide(col("k") - lit(1L))).as("w_ppm"))
    },
      s"""WITH ${sqlSegmentMedian2("seg, ck, cents", "med2")},
         z AS (
           SELECT c.seg, abs(c.cents * 2 - m.med2) AS z
           FROM c JOIN m ON c.seg = m.seg),
         g AS (
           SELECT seg, CAST(count(*) AS BIGINT) AS n_g,
                  CAST(sum(CAST(z AS HUGEINT)) AS HUGEINT) AS s_g,
                  CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS q_g
           FROM z GROUP BY seg),
         tot AS (
           SELECT CAST(sum(n_g) AS BIGINT) AS n,
                  CAST(count(*) AS BIGINT) AS k,
                  CAST(sum(s_g) AS HUGEINT) AS s,
                  CAST(sum(q_g) AS HUGEINT) AS q
           FROM g),
         terms AS (
           SELECT CAST(sum(s_g * s_g * tot.n // n_g) AS HUGEINT) AS termsum,
                  CAST(max(tot.n) AS BIGINT) AS n,
                  CAST(max(tot.k) AS BIGINT) AS k,
                  CAST(max(tot.s) AS HUGEINT) AS s,
                  CAST(max(tot.q) AS HUGEINT) AS q
           FROM g CROSS JOIN tot)
         SELECT n, k,
                CAST((termsum - s * s) * (n - k) * 1000000
                  // ((q * n - termsum) * (k - 1)) AS BIGINT) AS w_ppm
         FROM terms"""),

    // 5%-winsorized mean of order values: both clamp thresholds come from
    // the SAME bucket-pruned histogram-refinement rank selection the
    // median/equidepth family uses ([[graft.operators.RankSelect]] — the
    // driver touches only ≤1025-row histograms per round, never the data),
    // then one conditional-clamp aggregate. The robust location estimate a
    // pipeline reports next to the mean when heavy tails are suspected.
    Q("q_eng_winsorized", (s, d) => {
      val cents = Tables.orders(s, d)
        .select(floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      // g = ⌊0.05·n⌋ values clamp on each side: lo = value at rank g+1,
      // hi = value at rank n−g (n ≥ 1 on every fixture)
      val Some((_, lo)) = graft.operators.RankSelect.exactAtRank(
        cents, col("cents"), n => n / 20 + 1)
      val Some((n, hi)) = graft.operators.RankSelect.exactAtRank(
        cents, col("cents"), n => n - n / 20)
      cents.select(greatest(least(col("cents"), lit(hi)), lit(lo)).as("w"))
        .agg(count(lit(1)).as("cnt"), sum(wide(col("w"))).as("sumw"))
        .select(col("cnt").as("n"), lit(lo).as("lo_cents"),
          lit(hi).as("hi_cents"),
          mulDivWide(col("sumw"), lit(1000000L), col("cnt"))
            .as("wmean_micro"))
    },
      """WITH c AS (
           SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders),
         r AS (SELECT cents,
                      row_number() OVER (ORDER BY cents) AS rn,
                      count(*) OVER () AS n
               FROM c),
         th AS (SELECT CAST(max(CASE WHEN rn = n // 20 + 1 THEN cents END)
                         AS BIGINT) AS lo,
                       CAST(max(CASE WHEN rn = n - n // 20 THEN cents END)
                         AS BIGINT) AS hi,
                       CAST(max(n) AS BIGINT) AS n
                FROM r)
         SELECT max(th.n) AS n, max(lo) AS lo_cents, max(hi) AS hi_cents,
                CAST(CAST(sum(greatest(least(cents, hi), lo)) AS HUGEINT)
                  * 1000000 // max(th.n) AS BIGINT) AS wmean_micro
         FROM c CROSS JOIN th"""),

    // Hodges-Lehmann shift estimator between the urgent and non-urgent
    // DAILY revenue series: the median of all pairwise differences, the
    // robust "how much more per day" answer a mean difference overstates
    // under outliers. The pair table is day-domain² (~2400² — constant in
    // corpus size, the Theil-Sen discipline: the fact table aggregates to
    // days FIRST, then the bounded grid cross-joins broadcast); the
    // median rides the same bucket-pruned medianRank2 (2× trick keeps the
    // even-n midpoint integer).
    Q("q_eng_hodges_lehmann", (s, d) => {
      val o = Tables.orders(s, d).select(
        to_date(col("o_orderdate")).as("day"),
        (col("o_orderpriority") === "1-URGENT").as("g"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val d1 = o.where(col("g")).groupBy(col("day"))
        .agg(sum(col("cents")).as("rev1"))
      val d2 = o.where(!col("g")).groupBy(col("day").as("day2"))
        .agg(sum(col("cents")).as("rev2"))
      val pairs = d1.crossJoin(broadcast(d2))
        .select((col("rev1") - col("rev2")).as("dd"))
      val m = graft.operators.WeightedMedian.medianRank2(pairs,
          grp = lit(0L), v = col("dd"), ord = col("dd"),
          bucketWidth = 1000000.0)
        .select(col("med2").as("hl2"))
      pairs.agg(count(lit(1)).as("n_pairs")).crossJoin(broadcast(m))
    },
      """WITH o AS (
           SELECT CAST(o_orderdate AS DATE) AS day,
                  o_orderpriority = '1-URGENT' AS g,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders),
         d1 AS (SELECT day, CAST(sum(cents) AS BIGINT) AS rev1
                FROM o WHERE g GROUP BY 1),
         d2 AS (SELECT day, CAST(sum(cents) AS BIGINT) AS rev2
                FROM o WHERE NOT g GROUP BY 1),
         p AS (SELECT rev1 - rev2 AS dd FROM d1 CROSS JOIN d2),
         r AS (SELECT dd, row_number() OVER (ORDER BY dd) AS rn,
                      count(*) OVER () AS n
               FROM p)
         SELECT CAST(max(n) AS BIGINT) AS n_pairs,
                CAST(max(CASE WHEN rn = (n + 1) // 2 THEN dd END)
                   + max(CASE WHEN rn = n // 2 + 1 THEN dd END)
                 AS BIGINT) AS hl2
         FROM r"""),

    // Friedman test: do the five order priorities rank consistently
    // across nation blocks on mean order value? Cell means never
    // materialize as floats — the within-block midranks come from
    // pairwise CROSS-MULTIPLIED comparisons (mean_a ≤ mean_b ⟺
    // s_a·c_b ≤ s_b·c_a, exact in DECIMAL(38)), on the bounded
    // (25 nations × 5 priorities) cell table, with the 2× scaling
    // keeping tied midranks integer. χ² with the tie-corrected
    // denominator is one exact rational. Incomplete blocks (a nation
    // missing a priority) are excluded on both engines.
    Q("q_eng_friedman", (s, d) => {
      val k = 5L
      val cells = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderpriority").as("prio"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey").as("nk"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("nk"), col("prio"))
        .agg(sum(wide(col("cents"))).as("sv"), count(lit(1)).as("cv"))
      friedmanFromCells(cells, k)
    },
      """WITH cells AS (
           SELECT c_nationkey AS nk, o_orderpriority AS prio,
                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS sv,
                  CAST(count(*) AS BIGINT) AS cv
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
         complete AS (SELECT nk FROM cells GROUP BY nk
                      HAVING count(*) = 5),
         cc AS (SELECT cells.* FROM cells JOIN complete USING (nk)),
         r2t AS (
           SELECT a.nk, a.prio,
                  CAST(sum(CASE WHEN b.sv * a.cv < a.sv * b.cv THEN 2
                                WHEN b.sv * a.cv = a.sv * b.cv THEN 1
                                ELSE 0 END) + 1 AS BIGINT) AS r2
           FROM cc a JOIN cc b ON a.nk = b.nk
           GROUP BY 1, 2),
         pp AS (SELECT prio, CAST(sum(r2) AS BIGINT) AS rj2,
                       CAST(sum(r2 * r2) AS BIGINT) AS a2p
                FROM r2t GROUP BY 1),
         bb AS (SELECT CAST(count(DISTINCT nk) AS BIGINT) AS b FROM r2t),
         agg AS (SELECT CAST(sum(CAST(rj2 AS HUGEINT) * rj2) AS HUGEINT)
                          AS b2,
                        CAST(sum(a2p) AS HUGEINT) AS a2
                 FROM pp)
         SELECT b AS n_blocks,
                CAST(4 * (b2 - CAST(b AS HUGEINT) * b * 180) * 1000000
                  // (a2 - CAST(b AS HUGEINT) * 180) AS BIGINT) AS chi2_ppm
         FROM agg CROSS JOIN bb"""),

    // minority-class balancing: downsample every language class to the
    // size of the smallest one, selecting rows in content-hash order
    // (layout-independent, reproducible — the sampler family's R6
    // contract). The per-class rank is one window over the lang shuffle;
    // the data-derived k arrives as a broadcast scalar
    Q("q_sample_balanced", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
      val kMin = Tables.documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("c"))
        .agg(min("c").as("k"))
      val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      docs.withColumn("rn", row_number().over(w).cast("long"))
        .crossJoin(broadcast(kMin))
        .where(col("rn") <= col("k"))
        .select(col("lang"), col("doc_id"))
        .orderBy("lang", "doc_id")
    },
      """WITH k AS (
           SELECT min(c) AS k
           FROM (SELECT lang, count(*) AS c FROM documents GROUP BY 1)),
         r AS (
           SELECT lang, doc_id,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY md5(text), doc_id) AS rn
           FROM documents)
         SELECT lang, doc_id FROM r, k WHERE rn <= k.k
         ORDER BY lang, doc_id"""),

    // minority-class oversampling plan: replicate every class up to the
    // majority size — floor(T/n) copies each plus one extra for the
    // first T mod n docs in content-hash order. The complement of
    // q_sample_balanced: emitted as a per-doc copy COUNT (a weight
    // column), not materialized rows — at 100 TB an oversample is a
    // weight, never a data copy (the same discipline as the poissonized
    // bootstrap)
    Q("q_sample_oversample", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
      val counts = Tables.documents(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n"))
      val tgt = counts.agg(max("n").as("t"))
      val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
      docs.withColumn("rn", row_number().over(w).cast("long"))
        .join(broadcast(counts), "lang")
        .crossJoin(broadcast(tgt))
        .select(col("lang"), col("doc_id"),
          (expr("t DIV n") +
            when(col("rn") <= expr("t % n"), 1L).otherwise(0L))
            .as("n_copies"))
        .orderBy("lang", "doc_id")
    },
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
                    FROM documents GROUP BY 1),
         t AS (SELECT CAST(max(n) AS BIGINT) AS t FROM c),
         r AS (SELECT lang, doc_id,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY md5(text), doc_id) AS rn
               FROM documents)
         SELECT r.lang, r.doc_id,
                CAST(t.t // c.n
                     + CASE WHEN r.rn <= t.t % c.n THEN 1 ELSE 0 END
                  AS BIGINT) AS n_copies
         FROM r JOIN c ON r.lang = c.lang CROSS JOIN t
         ORDER BY r.lang, doc_id"""),

    // batch MERGE INTO (lakehouse upsert): target = snapshot without the
    // %13 keys, source = the %7 keys with bumped prices, matched 'F' rows
    // deleted. One full-outer join on the key (see operators/Merge for
    // the 100 TB notes); the oracle spells out the same MERGE semantics
    // longhand, so gate equality proves update/insert/delete/keep rows all
    // land bit-identically
    Q("q_eng_merge_upsert", (s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val target = o.where(col("o_orderkey") % 13 =!= 0)
      val source = o.where(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0)
      graft.operators.Merge.mergeInto(target, source, Seq("o_orderkey"),
          deleteWhen = col("_src.o_orderstatus") === "F")
        .orderBy("o_orderkey")
    },
      """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                    FROM orders WHERE o_orderkey % 13 <> 0),
         s AS (SELECT o_orderkey, o_orderstatus,
                      o_totalprice + 100.0 AS o_totalprice
               FROM orders WHERE o_orderkey % 7 = 0),
         j AS (SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
                      t.o_orderkey IS NOT NULL AS in_t,
                      s.o_orderkey IS NOT NULL AS in_s,
                      COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
                      COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice,
                      s.o_orderstatus AS s_status
               FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey)
         SELECT o_orderkey, o_orderstatus, o_totalprice
         FROM j WHERE NOT (in_t AND in_s AND s_status = 'F')
         ORDER BY o_orderkey"""),

    // KMV sketch set algebra: distinct-count estimates for two customer
    // cohorts (urgent-priority vs finished-status), their union, Jaccard,
    // and intersection — all from two 128-value bottom-k sketches, never
    // rescanning the data for the set operations. Integer 52-bit hash
    // arithmetic end to end, so the ESTIMATES themselves gate bitwise
    Q("q_eng_kmv_sets", (s, d) => {
      val k = 128
      val o = Tables.orders(s, d)
      val e = o.where(col("o_orderpriority") === "1-URGENT")
        .select(lit("urgent").as("set"), col("o_custkey").as("v"))
        .unionByName(o.where(col("o_orderstatus") === "F")
          .select(lit("final").as("set"), col("o_custkey").as("v")))
      val sk = graft.operators.KmvSketch.sketch(e, col("set"), col("v"), k)
      val est = graft.operators.KmvSketch.estimate(sk, k)
      // merged (union) sketch: k smallest of the two sketches' members —
      // sketch-scale data (≤ 2k rows), so the unpartitioned rank is safe
      val uk = sk.select("h").distinct()
        .withColumn("rn", row_number().over(Window.orderBy(col("h"))).cast("long"))
        .where(col("rn") <= k)
      val ue = uk.agg(count(lit(1)).as("kn"), max("h").as("hk"))
        .select(when(col("kn") < k, col("kn"))
          .otherwise(expr(s"(${k - 1} * ${graft.operators.KmvSketch.HashSpace}L) DIV hk"))
          .as("union_est"))
      val m = uk
        .join(sk.where(col("set") === "urgent").select("h"), Seq("h"), "left_semi")
        .join(sk.where(col("set") === "final").select("h"), Seq("h"), "left_semi")
        .agg(count(lit(1)).as("m"))
      est.where(col("set") === "urgent")
        .select(col("distinct_est").as("urgent_est"))
        .crossJoin(est.where(col("set") === "final")
          .select(col("distinct_est").as("final_est")))
        .crossJoin(ue).crossJoin(m)
        .select(col("urgent_est"), col("final_est"), col("union_est"),
          expr(s"m * 1000000 DIV $k").as("jaccard_ppm"),
          expr(s"m * union_est DIV $k").as("intersect_est"))
    },
      """WITH e AS (
           SELECT 'urgent' AS s, o_custkey AS v FROM orders
           WHERE o_orderpriority = '1-URGENT'
           UNION ALL
           SELECT 'final', o_custkey FROM orders WHERE o_orderstatus = 'F'),
         hh AS (SELECT DISTINCT s,
                       CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 13)
                         AS BIGINT) AS h
                FROM e),
         r AS (SELECT s, h,
                      row_number() OVER (PARTITION BY s ORDER BY h) AS rn
               FROM hh),
         sk AS (SELECT s, h FROM r WHERE rn <= 128),
         est AS (SELECT s,
                        CAST(CASE WHEN count(*) < 128 THEN count(*)
                             ELSE (127 * 4503599627370496) // max(h) END
                          AS BIGINT) AS de
                 FROM sk GROUP BY s),
         u AS (SELECT h, row_number() OVER (ORDER BY h) AS rn
               FROM (SELECT DISTINCT h FROM sk)),
         uk AS (SELECT h FROM u WHERE rn <= 128),
         ue AS (SELECT CAST(CASE WHEN count(*) < 128 THEN count(*)
                       ELSE (127 * 4503599627370496) // max(h) END
                    AS BIGINT) AS union_est
                FROM uk),
         m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM uk
               WHERE h IN (SELECT h FROM sk WHERE s = 'urgent')
                 AND h IN (SELECT h FROM sk WHERE s = 'final'))
         SELECT (SELECT de FROM est WHERE s = 'urgent') AS urgent_est,
                (SELECT de FROM est WHERE s = 'final') AS final_est,
                ue.union_est,
                CAST(m.m * 1000000 // 128 AS BIGINT) AS jaccard_ppm,
                CAST(m.m * ue.union_est // 128 AS BIGINT) AS intersect_est
         FROM ue, m"""),

    // the KMV aggregate ON the gate: per-priority distinct-customer
    // estimates through the SQL-registered TypedImperativeAggregate
    // (graft_kmv_distinct) — partial-aggregated, mergeable, one exchange
    // of ≤ k longs per group. The oracle recomputes the same bottom-k
    // estimator per group, so the custom aggregate's update/merge/eval
    // path is hash-compared cross-engine, not just spec-tested
    Q("q_eng_kmv_agg", (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("kmv_orders")
      s.sql(
        """SELECT o_orderpriority,
                  graft_kmv_distinct(o_custkey, 128) AS distinct_cust_est
           FROM kmv_orders
           GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    },
      """WITH h AS (
           SELECT DISTINCT o_orderpriority,
                  CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13)
                    AS BIGINT) AS h
           FROM orders),
         r AS (SELECT o_orderpriority, h,
                      row_number() OVER (PARTITION BY o_orderpriority
                                         ORDER BY h) AS rn
               FROM h),
         sk AS (SELECT o_orderpriority,
                       CAST(count(*) AS BIGINT) AS n_in,
                       CAST(max(h) AS BIGINT) AS hk
                FROM r WHERE rn <= 128 GROUP BY 1)
         SELECT o_orderpriority,
                CAST(CASE WHEN n_in < 128 THEN n_in
                     ELSE 127 * 4503599627370496 // hk END AS BIGINT)
                  AS distinct_cust_est
         FROM sk ORDER BY o_orderpriority"""),

    // the quantile-sketch aggregate ON the gate: per-language n_chars
    // quantiles through the SQL-registered TypedImperativeAggregate
    // (graft_quantile_sketch) — a bounded deterministic priority sample
    // (k = 256 triples per group) that partial-aggregates map-side and
    // merges as a bottom-k union, replacing the full per-group sort exact
    // quantiles need (q_text_len_quantiles is the exact histogram twin).
    // The oracle replays the identical bottom-k-by-md5-priority sample
    // and rank reads, so update/merge/eval are hash-compared cross-engine
    // (the graft_hll / graft_kmv_distinct discipline). Sample rank error
    // is the standard O(1/√k); groups with ≤ k rows are EXACT.
    Q("q_eng_sketch_quantiles", (s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("qsk_docs")
      s.sql(
        """SELECT lang, qs.n_sample AS n_sample,
                  qs.q10 AS q10, qs.q25 AS q25, qs.q50 AS q50,
                  qs.q75 AS q75, qs.q90 AS q90, qs.q99 AS q99
           FROM (SELECT lang,
                        graft_quantile_sketch(doc_id, n_chars, 256) AS qs
                 FROM qsk_docs GROUP BY lang)
           ORDER BY lang""")
    },
      // identical bottom-k-by-md5-priority sample per group, then the
      // aggregate's all-integer rank reads idx = (m-1)*p // 100 (0-based)
      s"""WITH ${sqlLangLengthSample("documents")}
         SELECT lang, CAST(max(m) AS BIGINT) AS n_sample,
                ${sqlSampleQuantiles(10, 25, 50, 75, 90, 99)}
         FROM r GROUP BY lang ORDER BY lang"""),

    // the sketch's measured error, ON the gate: per-language, the
    // quantile-sketch q50/q90 scored against the full group — rank of
    // the sketch's answer in the exact distribution, in ppm, and its
    // absolute deviation from the target rank. All-integer (count ≤ v,
    // ×1e6, truncating DIV), so the audit row is bitwise cross-engine.
    // This is the committed-measurement discipline (q_dedup_ann_recall):
    // the approximation ships WITH the query that quantifies what it
    // trades — ±1/√k rank error at k = 256 once groups exceed k, exact
    // below. One extra scan + broadcast join; the sketch side reuses the
    // same one-pass aggregate.
    Q("q_eng_sketch_error", (s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("qse_docs")
      s.sql(
        """WITH sk AS (SELECT lang,
                              graft_quantile_sketch(doc_id, n_chars, 256) AS qs
                       FROM qse_docs GROUP BY lang)
           SELECT d.lang, CAST(count(*) AS BIGINT) AS n,
                  max(sk.qs.q50) AS q50_sketch,
                  max(sk.qs.q90) AS q90_sketch,
                  sum(CASE WHEN d.n_chars <= sk.qs.q50 THEN 1 ELSE 0 END)
                    * 1000000L DIV count(*) AS rank50_ppm,
                  abs(sum(CASE WHEN d.n_chars <= sk.qs.q50 THEN 1 ELSE 0 END)
                    * 1000000L DIV count(*) - 500000L) AS err50_ppm,
                  sum(CASE WHEN d.n_chars <= sk.qs.q90 THEN 1 ELSE 0 END)
                    * 1000000L DIV count(*) AS rank90_ppm,
                  abs(sum(CASE WHEN d.n_chars <= sk.qs.q90 THEN 1 ELSE 0 END)
                    * 1000000L DIV count(*) - 900000L) AS err90_ppm
           FROM qse_docs d JOIN sk ON sk.lang = d.lang
           GROUP BY d.lang ORDER BY d.lang""")
    },
      // identical sample + rank reads as q_eng_sketch_quantiles, then the
      // exact-rank scoring join (count <= v, x1e6, truncating //)
      s"""WITH ${sqlLangLengthSample("documents")},
         sk AS (SELECT lang,
                       max(CASE WHEN rn = (m-1)*50//100 + 1 THEN n_chars END)
                         AS q50,
                       max(CASE WHEN rn = (m-1)*90//100 + 1 THEN n_chars END)
                         AS q90
                FROM r GROUP BY lang)
         SELECT d.lang, CAST(count(*) AS BIGINT) AS n,
                CAST(max(sk.q50) AS BIGINT) AS q50_sketch,
                CAST(max(sk.q90) AS BIGINT) AS q90_sketch,
                CAST(sum(CASE WHEN d.n_chars <= sk.q50 THEN 1 ELSE 0 END)
                  * 1000000 // count(*) AS BIGINT) AS rank50_ppm,
                CAST(abs(sum(CASE WHEN d.n_chars <= sk.q50 THEN 1 ELSE 0 END)
                  * 1000000 // count(*) - 500000) AS BIGINT) AS err50_ppm,
                CAST(sum(CASE WHEN d.n_chars <= sk.q90 THEN 1 ELSE 0 END)
                  * 1000000 // count(*) AS BIGINT) AS rank90_ppm,
                CAST(abs(sum(CASE WHEN d.n_chars <= sk.q90 THEN 1 ELSE 0 END)
                  * 1000000 // count(*) - 900000) AS BIGINT) AS err90_ppm
         FROM documents d JOIN sk ON sk.lang = d.lang
         GROUP BY d.lang ORDER BY d.lang"""),

    // the stock rank-filter-drop idiom: Spark's InferWindowGroupLimit
    // plans it as a partial WindowGroupLimit before the shuffle and a
    // final one after it; the DuckDB oracle runs the plain window
    Q("q_eng_topk_rewritten", (s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "o_orderkey")
    },
      """SELECT o_orderpriority, o_orderkey, o_totalprice
         FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders)
         WHERE rn <= 3
         ORDER BY o_orderpriority, o_orderkey"""),

    // clickstream path mining: the 20 most common 3-step event sequences.
    // Two lead() columns over ONE per-user window (a single user_id
    // exchange feeds both), then a vocabulary-sized path histogram — the
    // sequence analogue of the Markov transition matrix, kept exact
    Q("q_eng_user_paths", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .where(col("e2").isNotNull && col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
          .as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    },
      """WITH w AS (
           SELECT event_type AS e1,
                  lead(event_type, 1) OVER win AS e2,
                  lead(event_type, 2) OVER win AS e3
           FROM events
           WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT e1 || '>' || e2 || '>' || e3 AS path,
                CAST(count(*) AS BIGINT) AS n
         FROM w WHERE e2 IS NOT NULL AND e3 IS NOT NULL
         GROUP BY 1 ORDER BY n DESC, path LIMIT 20"""),

    // month-over-month brand revenue velocity: exact integer-cents monthly
    // aggregate, lag window per brand (brand×month table — tiny), growth
    // in ppm via the shifted non-negative division (cents·10⁶ div prev −
    // 10⁶) so Spark's truncating DIV and DuckDB's flooring // agree on
    // every sign
    Q("q_eng_brand_velocity", (s, d) => {
      val monthly = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          to_date(date_trunc("month", col("l_shipdate"))).as("month"))
        .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
          .as("cents"))
      val w = Window.partitionBy("p_brand").orderBy("month")
      monthly.withColumn("prev", lag(col("cents"), 1).over(w))
        .where(col("prev").isNotNull && col("prev") > 0)
        // cents is a money sum — wide path (int64 ×1e6 dies past ~9.2e12)
        .select(col("p_brand"), col("month").cast("string").as("month"),
          col("cents"),
          (ppmWide(col("cents"), col("prev")) - lit(1000000L)).as("growth_ppm"))
        .orderBy(col("growth_ppm").desc, col("p_brand"), col("month"))
        .limit(20)
    },
      """WITH monthly AS (
           SELECT p_brand,
                  CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
                  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1, 2),
         lagd AS (
           SELECT p_brand, month, cents,
                  lag(cents, 1) OVER (PARTITION BY p_brand ORDER BY month)
                    AS prev
           FROM monthly)
         SELECT p_brand, CAST(month AS VARCHAR) AS month, cents,
                CAST(CAST(cents AS HUGEINT) * 1000000 // CAST(prev AS HUGEINT)
                     - 1000000 AS BIGINT) AS growth_ppm
         FROM lagd WHERE prev IS NOT NULL AND prev > 0
         ORDER BY growth_ppm DESC, p_brand, month LIMIT 20"""),

    // tumbling-window time-series rollup: Spark's batch window() function
    // (the same operator Structured Streaming aggregates on) bucketing the
    // event stream into hours — one hash aggregate on (bucket, type),
    // money through exact decimal accumulation
    Q("q_eng_tumbling", (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          moneySum(col("value")).as("sum_value"))
        .select(col("w.start").cast("string").as("bucket"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("bucket", "event_type"),
      """SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS VARCHAR) AS bucket,
                event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000
                       AS DECIMAL(38,0)) AS DOUBLE) / 1000000.0 AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY bucket, event_type"""),

    // weighted shortest paths (Bellman-Ford, 3 relaxation rounds) over the
    // co-purchase graph — edge cost 10⁶ div w, so STRONGER ties are
    // CHEAPER hops and the result ranks association closeness. Each round
    // is one edge⋈dist join + a min aggregate (the frontier-less textbook
    // form); the oracle enumerates every ≤3-edge path recursively and
    // takes the min — equality proves the relaxation computes true
    // shortest distances. Integer costs end to end
    Q("q_eng_shortest_path", (s, d) => {
      val edges = copurchaseEdges(s, d)
        .select(col("src"), col("dst"), expr("1000000 DIV w").as("cost"))
      val seed = edges.agg(min(col("src")).as("node"))
        .select(col("node"), lit(0L).as("dist"))
      graft.operators.Graph.bellmanFord(edges, seed, rounds = 3)
        .orderBy("node")
    },
      s"""WITH RECURSIVE
         $copurchaseSql,
         seed AS (SELECT min(src) AS s FROM e),
         paths(node, dist, hops) AS (
           SELECT s, CAST(0 AS BIGINT), 0 FROM seed
           UNION
           SELECT e.dst, paths.dist + 1000000 // e.w, paths.hops + 1
           FROM paths JOIN e ON e.src = paths.node WHERE paths.hops < 3)
         SELECT node, CAST(min(dist) AS BIGINT) AS dist
         FROM paths GROUP BY 1 ORDER BY node"""),

    // RFM customer segmentation: recency/frequency/monetary quintiles over
    // the per-customer AGGREGATE. Customers are UNBOUNDED at corpus scale,
    // so each quintile comes from a StableIds range-partitioned global rank
    // plus the exact SQL NTILE arithmetic (first n%k buckets get one extra
    // row) instead of `ntile(5) OVER (ORDER BY …)`, which would funnel the
    // whole table through one window task. Money as exact integer cents;
    // unique custkey tiebreaks make every boundary deterministic across
    // engines (and across partition cuts)
    Q("q_eng_rfm", (s, d) => {
      val cust = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(datediff(to_date(lit("1996-01-01")),
          max(to_date(col("o_orderdate")))).cast("long").as("rec"),
          count(lit(1)).as("freq"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
      import graft.operators.StableIds.withRank
      val ranked = withRank(withRank(withRank(cust,
          Seq(col("rec"), col("o_custkey")), "rr"),
          Seq(col("freq").desc, col("o_custkey")), "fr"),
          Seq(col("cents").desc, col("o_custkey")), "mr")
        .crossJoin(broadcast(cust.agg(count(lit(1)).as("nc"))))
      // SQL NTILE(5) from a 1-based rank: q = nc DIV 5 rows per bucket,
      // the first r = nc % 5 buckets take q+1 (greatest guards the nc < 5
      // corner, where the ELSE branch is unreachable anyway)
      def tile(rk: String): Column = expr(
        s"CASE WHEN $rk <= (nc % 5) * (nc DIV 5 + 1)" +
          s" THEN ($rk - 1) DIV (nc DIV 5 + 1) + 1" +
          s" ELSE (nc % 5) + 1 + ($rk - 1 - (nc % 5) * (nc DIV 5 + 1))" +
          s" DIV greatest(nc DIV 5, 1) END").cast("long")
      ranked.select(col("o_custkey"), col("cents"),
          tile("rr").as("r_bin"), tile("fr").as("f_bin"),
          tile("mr").as("m_bin"))
        .groupBy("r_bin", "f_bin", "m_bin")
        .agg(count(lit(1)).as("n_customers"), sum("cents").as("cents"))
        .orderBy("r_bin", "f_bin", "m_bin")
    },
      """WITH cust AS (
           SELECT o_custkey,
                  datediff('day', CAST(max(o_orderdate) AS DATE),
                           DATE '1996-01-01') AS rec,
                  CAST(count(*) AS BIGINT) AS freq,
                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         bins AS (
           SELECT cents,
                  CAST(ntile(5) OVER (ORDER BY rec, o_custkey) AS BIGINT)
                    AS r_bin,
                  CAST(ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT)
                    AS f_bin,
                  CAST(ntile(5) OVER (ORDER BY cents DESC, o_custkey) AS BIGINT)
                    AS m_bin
           FROM cust)
         SELECT r_bin, f_bin, m_bin, CAST(count(*) AS BIGINT) AS n_customers,
                CAST(sum(cents) AS BIGINT) AS cents
         FROM bins GROUP BY 1, 2, 3 ORDER BY r_bin, f_bin, m_bin"""),

    // Benford first-digit forensics: observed first-digit shares of order
    // totals vs the Benford expectation — the data-quality screen for
    // fabricated or truncated money columns. Digit extraction through
    // exact integer → string (no float formatting); both shares in ppm;
    // the 9 expected log10 values are a fixed input set far from floor
    // boundaries (same audit argument as the image-entropy ln table)
    Q("q_eng_benford", (s, d) => {
      val t = Tables.orders(s, d).where(col("o_totalprice") >= 1)
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = t.agg(sum(col("n")).as("nt"))
      t.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          expr("n * 1000000 DIV nt").as("share_ppm"),
          floor(log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
            * 1000000.0 + 0.5).cast("long").as("benford_ppm"))
        .orderBy("digit")
    },
      """WITH t AS (
           SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                    AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                  CAST(count(*) AS BIGINT) AS n
           FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM t)
         SELECT digit, n, CAST(n * 1000000 // nt AS BIGINT) AS share_ppm,
                CAST(floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE))
                  * 1000000.0 + 0.5) AS BIGINT) AS benford_ppm
         FROM t, tot ORDER BY digit"""),

    // PSI distribution-drift monitor: per-bucket Population Stability
    // Index contribution between the pre/post-1998 order populations —
    // the ML-ops screen for "did the feature distribution move". Laplace
    // smoothing keeps empty bins defined; shares quantize to ppm via
    // non-negative DIV, the ln quantizes at the leaf per bin (a ≤ #bins
    // input set, boundary-audited), and the contribution is a pure
    // signed integer product in pico units — no float crosses the gate
    Q("q_eng_psi_drift", (s, d) => {
      val o = Tables.orders(s, d).select(
        floor(col("o_totalprice") / 50000.0).cast("long").as("bin"),
        (to_date(col("o_orderdate")) < to_date(lit("1998-01-01"))).as("isA"))
      val cells = o.groupBy("bin").agg(
        count(when(col("isA"), 1)).as("na"),
        count(when(!col("isA"), 1)).as("nb"))
      val tots = cells.agg(sum("na").as("ta"), sum("nb").as("tb"),
        count(lit(1)).as("nbins"))
      cells.crossJoin(broadcast(tots))
        .select(col("bin"), col("na"), col("nb"),
          expr("(na + 1) * 1000000 DIV (ta + nbins)").as("sa_ppm"),
          expr("(nb + 1) * 1000000 DIV (tb + nbins)").as("sb_ppm"),
          floor(log(((col("na") + 1) * (col("tb") + col("nbins"))).cast("double") /
            ((col("nb") + 1) * (col("ta") + col("nbins"))).cast("double"))
            * 1000000.0 + 0.5).cast("long").as("ln_micro"))
        .withColumn("psi_pico", (col("sa_ppm") - col("sb_ppm")) * col("ln_micro"))
        .orderBy("bin")
    },
      """WITH o AS (
           SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
                  CAST(o_orderdate AS DATE) < DATE '1998-01-01' AS isA
           FROM orders),
         cells AS (
           SELECT bin, CAST(count(CASE WHEN isA THEN 1 END) AS BIGINT) AS na,
                  CAST(count(CASE WHEN NOT isA THEN 1 END) AS BIGINT) AS nb
           FROM o GROUP BY 1),
         tots AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
                         CAST(sum(nb) AS BIGINT) AS tb,
                         CAST(count(*) AS BIGINT) AS nbins
                  FROM cells),
         t AS (
           SELECT bin, na, nb,
                  CAST((na + 1) * 1000000 // (ta + nbins) AS BIGINT) AS sa_ppm,
                  CAST((nb + 1) * 1000000 // (tb + nbins) AS BIGINT) AS sb_ppm,
                  CAST(floor(ln(CAST((na + 1) * (tb + nbins) AS DOUBLE)
                               / CAST((nb + 1) * (ta + nbins) AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS ln_micro
           FROM cells, tots)
         SELECT bin, na, nb, sa_ppm, sb_ppm, ln_micro,
                CAST((sa_ppm - sb_ppm) * ln_micro AS BIGINT) AS psi_pico
         FROM t ORDER BY bin"""),

    // CUSUM changepoint scan over daily revenue: the cumulative deviation
    // n·xᵢ − T (integer cents, mean-free without a division) peaks at the
    // most likely level shift. One days-sized window after the daily
    // aggregate; the top-5 |CUSUM| days are the changepoint candidates
    Q("q_eng_cusum", (s, d) => {
      val daily = dailyRevenue(s, d)
      val tot = daily.agg(sum("x").as("t"), count(lit(1)).as("n"))
      val w = Window.orderBy("day")
      daily.crossJoin(broadcast(tot))
        .withColumn("dev", col("n") * col("x") - col("t"))
        .withColumn("cusum", sum("dev").over(w))
        .select(col("day").cast("string").as("day"), col("x"), col("cusum"))
        .orderBy(abs(col("cusum")).desc, col("day"))
        .limit(5)
    },
      s"""WITH daily AS (
           ${sqlDailyRevenue()}),
         tot AS (SELECT CAST(sum(x) AS BIGINT) AS t,
                        CAST(count(*) AS BIGINT) AS n
                 FROM daily),
         c AS (
           SELECT day, x,
                  CAST(sum(n * x - t) OVER (ORDER BY day) AS BIGINT) AS cusum
           FROM daily, tot)
         SELECT CAST(day AS VARCHAR) AS day, x, cusum
         FROM c ORDER BY abs(cusum) DESC, day LIMIT 5"""),

    // DAU/WAU engagement: windowed distinct users WITHOUT a windowed
    // distinct — each (user, day) activity covers the 7 days it counts
    // toward (one explode), so WAU is a plain distinct + aggregate. The
    // coverage trick turns an O(days × window) rescan into one pass;
    // stickiness = DAU/WAU in ppm
    Q("q_eng_dau_wau", (s, d) => {
      val ud = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(explode(sequence(col("day"), date_add(col("day"), 6)))
          .as("day"), col("user_id"))
        .distinct()
        .groupBy("day").agg(count(lit(1)).as("wau"))
      dau.join(wau, "day")
        .select(col("day").cast("string").as("day"), col("dau"), col("wau"),
          expr("dau * 1000000 DIV wau").as("stickiness_ppm"))
        .orderBy("day")
    },
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                     FROM events),
         cov AS (SELECT DISTINCT CAST(t.d2 AS DATE) AS day, user_id
                 FROM ud, unnest(generate_series(CAST(day AS TIMESTAMP),
                          CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
                          INTERVAL 1 DAY)) t(d2)),
         dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
                 FROM ud GROUP BY 1),
         wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau
                 FROM cov GROUP BY 1)
         SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau, wau.wau,
                CAST(dau.dau * 1000000 // wau.wau AS BIGINT)
                  AS stickiness_ppm
         FROM dau JOIN wau ON dau.day = wau.day ORDER BY day"""),

    // cohort LTV matrix: cumulative revenue (exact integer cents) by
    // acquisition cohort × months-since-first-order. Two custkey-keyed
    // aggregates (first order, then the join-back), a cohort×age-sized
    // cumulative window — the fact table is touched twice, the matrix
    // never exceeds months² rows
    Q("q_eng_cohort_ltv", (s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("ym"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val first = o.groupBy("o_custkey").agg(min("ym").as("cym"))
      val aged = o.join(first, "o_custkey")
        .groupBy(col("cym"), (col("ym") - col("cym")).as("age_months"))
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("cents"))
      val w = Window.partitionBy("cym").orderBy("age_months")
      aged.withColumn("cum_cents", sum("cents").over(w))
        .select(col("cym").as("cohort_ym"), col("age_months"),
          col("n_orders"), col("cum_cents"))
        .orderBy("cohort_ym", "age_months")
    },
      """WITH o AS (
           SELECT o_custkey,
                  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
                    AS ym,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders),
         f AS (SELECT o_custkey, CAST(min(ym) AS BIGINT) AS cym
               FROM o GROUP BY 1),
         aged AS (
           SELECT cym, o.ym - f.cym AS age_months,
                  CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(cents) AS BIGINT) AS cents
           FROM o JOIN f USING (o_custkey)
           GROUP BY 1, 2)
         SELECT cym AS cohort_ym, age_months, n_orders,
                CAST(sum(cents) OVER (PARTITION BY cym ORDER BY age_months)
                  AS BIGINT) AS cum_cents
         FROM aged ORDER BY cohort_ym, age_months"""),

    // Herfindahl–Hirschman concentration of brand revenue: Σ share² —
    // the market-concentration complement of the Lorenz/Gini family
    // (HHI reacts to the top of the distribution, Gini to its whole
    // shape). Shares in exact truncated ppm over integer cents; HHI
    // lands back in ppm after one integer division
    Q("q_eng_hhi", (s, d) => {
      val rev = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
          .as("cents"))
      rev.crossJoin(broadcast(rev.agg(sum("cents").as("t"))))
        .select(ppmWide(col("cents"), col("t")).as("share_ppm"))
        .agg(count(lit(1)).as("n_brands"),
          max("share_ppm").as("top_share_ppm"),
          expr("sum(share_ppm * share_ppm) DIV 1000000").as("hhi_ppm"))
    },
      """WITH rev AS (
           SELECT p_brand,
                  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1),
         t AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev),
         sh AS (SELECT CAST(CAST(cents AS HUGEINT) * 1000000
                            // CAST(t.t AS HUGEINT) AS BIGINT) AS share_ppm
                FROM rev, t)
         SELECT CAST(count(*) AS BIGINT) AS n_brands,
                CAST(max(share_ppm) AS BIGINT) AS top_share_ppm,
                CAST(CAST(sum(share_ppm * share_ppm) AS BIGINT) // 1000000
                  AS BIGINT) AS hhi_ppm
         FROM sh"""),

    // pricing-integrity screen: per-part spread of the implied unit
    // price across line items — a wide spread flags inconsistent
    // catalog pricing or data corruption. Unit price in integer
    // centi-units from one fixed-shape IEEE division per row (identical
    // operands → identical doubles on both engines); one partkey
    // aggregate, top-20 by spread
    Q("q_eng_unit_price_spread", (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_quantity") > 0)
        .select(col("l_partkey"),
          floor(col("l_extendedprice") * 100.0 / col("l_quantity") + 0.5)
            .cast("long").as("unit_centi"))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n_lines"),
          min("unit_centi").as("min_unit_centi"),
          max("unit_centi").as("max_unit_centi"))
        .withColumn("spread_centi",
          col("max_unit_centi") - col("min_unit_centi"))
        .orderBy(col("spread_centi").desc, col("l_partkey"))
        .limit(20),
      """WITH u AS (
           SELECT l_partkey,
                  CAST(floor(l_extendedprice * 100.0 / l_quantity + 0.5)
                    AS BIGINT) AS unit_centi
           FROM lineitem WHERE l_quantity > 0),
         g AS (
           SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_lines,
                  CAST(min(unit_centi) AS BIGINT) AS min_unit_centi,
                  CAST(max(unit_centi) AS BIGINT) AS max_unit_centi
           FROM u GROUP BY 1)
         SELECT l_partkey, n_lines, min_unit_centi, max_unit_centi,
                max_unit_centi - min_unit_centi AS spread_centi
         FROM g
         ORDER BY spread_centi DESC, l_partkey LIMIT 20"""),

    // A/B assignment + sample-ratio-mismatch check: deterministic 50/50
    // md5 bucketing of users (the hash-based assignment every
    // experimentation platform uses — reproducible, no RNG state), and
    // the SRM statistic (na−nb)²·10⁶/(na+nb) in exact micro units. A
    // skewed split means broken randomization before any metric is read
    Q("q_eng_ab_srm", (s, d) => {
      val arms = Tables.events(s, d).select(col("user_id")).distinct()
        .select(when(conv(substring(md5(col("user_id").cast("string")), 1, 13),
          16, 10).cast("long") % 2 === 0, lit("A")).otherwise(lit("B"))
          .as("arm"))
        .groupBy("arm").agg(count(lit(1)).as("n"))
      arms.agg(
          sum(when(col("arm") === "A", col("n")).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === "B", col("n")).otherwise(0L)).as("n_b"))
        // (n_a-n_b)² is count-squared — n² of the row count at scale, so
        // the square itself is built in the wide domain
        .select(col("n_a"), col("n_b"),
          ppmWide(wide(col("n_a") - col("n_b")) * wide(col("n_a") - col("n_b")),
            col("n_a") + col("n_b")).as("srm_micro"))
    },
      """WITH u AS (SELECT DISTINCT user_id FROM events),
         arms AS (
           SELECT CASE WHEN CAST('0x' ||
                    substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT)
                    % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
                  user_id
           FROM u),
         c AS (SELECT CAST(count(CASE WHEN arm = 'A' THEN 1 END) AS BIGINT)
                        AS n_a,
                      CAST(count(CASE WHEN arm = 'B' THEN 1 END) AS BIGINT)
                        AS n_b
               FROM arms)
         SELECT n_a, n_b,
                CAST(CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000000
                     // CAST(n_a + n_b AS HUGEINT) AS BIGINT) AS srm_micro
         FROM c"""),

    // CUPED variance reduction for the A/B readout: per user, pre-period
    // covariate x = spend before the time midpoint, outcome y = spend
    // after; θ = cov(x,y)/var(x) from exact integer-cent moments (the
    // group_ols discipline — one distributed partial aggregate, DECIMAL(38)
    // products), adjusted arm mean = ȳ_arm − θ·(x̄_arm − x̄). Everything
    // stays in truncating signed integer arithmetic (θ and the centered
    // means are signed), so the two engines agree bitwise. One fact-sized
    // pass; moments and arm rollups are scalar-sized broadcasts.
    Q("q_eng_cuped", (s, d) => {
      import graft.functions.WideDiv.mulDivWideSigned
      val per = eventCentsMid(s, d)
        .groupBy("user_id")
        .agg(sum(when(col("us") < col("mid"), col("vc")).otherwise(0L))
            .as("x"),
          sum(when(col("us") >= col("mid"), col("vc")).otherwise(0L))
            .as("y"))
        .withColumn("arm",
          when(conv(substring(md5(col("user_id").cast("string")), 1, 13),
            16, 10).cast("long") % 2 === 0, lit("A")).otherwise(lit("B")))
      val moments = per.agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(wide(col("x")) * wide(col("x"))).as("sxx"),
        sum(wide(col("x")) * wide(col("y"))).as("sxy"))
        .select(col("n"), col("sx"),
          when(wide(col("n")) * col("sxx") - wide(col("sx")) * wide(col("sx"))
              === lit(0).cast("decimal(38,0)"), 0L)
            .otherwise(mulDivWideSigned(
              wide(col("n")) * col("sxy") - wide(col("sx")) * wide(col("sy")),
              lit(1000000L),
              wide(col("n")) * col("sxx") - wide(col("sx")) * wide(col("sx"))))
            .as("theta_ppm"))
      per.groupBy("arm")
        .agg(count(lit(1)).as("n_arm"), sum(col("x")).as("sxa"),
          sum(col("y")).as("sya"))
        .crossJoin(broadcast(moments))
        .select(col("arm"), col("n_arm"), col("theta_ppm"),
          mulDivWideSigned(col("sya"), lit(1000000L), col("n_arm"))
            .as("mean_y_micro"),
          (mulDivWideSigned(col("sya"), lit(1000000L), col("n_arm")) -
            mulDivWideSigned(col("theta_ppm"),
              mulDivWideSigned(col("sxa"), lit(1000000L), col("n_arm")) -
                mulDivWideSigned(col("sx"), lit(1000000L), col("n")),
              lit(1000000L))).as("adj_mean_micro"))
        .orderBy("arm")
    },
      // HUGEINT `//` truncates toward zero, mirroring mulDivWideSigned on
      // the signed θ and centered-mean terms
      s"""$sqlEventCentsMid,
         per AS (
           SELECT user_id,
                  CAST(sum(CASE WHEN us < mid THEN vc ELSE 0 END) AS BIGINT)
                    AS x,
                  CAST(sum(CASE WHEN us >= mid THEN vc ELSE 0 END) AS BIGINT)
                    AS y,
                  CASE WHEN CAST('0x' ||
                    substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT)
                    % 2 = 0 THEN 'A' ELSE 'B' END AS arm
           FROM ev, mid GROUP BY user_id),
         mom AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS sx,
                  sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                  sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
                  CAST(sum(y) AS BIGINT) AS sy
           FROM per),
         th AS (
           SELECT n, sx,
                  CASE WHEN CAST(n AS HUGEINT) * sxx -
                            CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) = 0
                       THEN CAST(0 AS BIGINT)
                       ELSE CAST((CAST(n AS HUGEINT) * sxy -
                                  CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT))
                                 * 1000000 //
                                 (CAST(n AS HUGEINT) * sxx -
                                  CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT))
                              AS BIGINT) END AS theta_ppm
           FROM mom),
         byarm AS (
           SELECT arm, CAST(count(*) AS BIGINT) AS n_arm,
                  CAST(sum(x) AS BIGINT) AS sxa,
                  CAST(sum(y) AS BIGINT) AS sya
           FROM per GROUP BY arm)
         SELECT a.arm, a.n_arm, t.theta_ppm,
                CAST(CAST(a.sya AS HUGEINT) * 1000000 //
                     CAST(a.n_arm AS HUGEINT) AS BIGINT) AS mean_y_micro,
                CAST(CAST(a.sya AS HUGEINT) * 1000000 //
                       CAST(a.n_arm AS HUGEINT) -
                     CAST(t.theta_ppm AS HUGEINT) *
                       (CAST(a.sxa AS HUGEINT) * 1000000 //
                          CAST(a.n_arm AS HUGEINT) -
                        CAST(t.sx AS HUGEINT) * 1000000 //
                          CAST(t.n AS HUGEINT)) // 1000000
                  AS BIGINT) AS adj_mean_micro
         FROM byarm a, th t ORDER BY arm"""),

    // difference-in-differences readout: arm (md5 50/50, the ab_srm
    // assignment) × period (before/after the stream's time midpoint) cell
    // means of event value in truncating signed micro-units, DiD =
    // (Ā_post−Ā_pre) − (B̄_post−B̄_pre). Each cell mean is separately
    // truncated — the cross-engine contract is the integer recurrence, not
    // real-valued means. One fact-sized aggregate; everything after the
    // 4-row cell table is scalar algebra.
    Q("q_eng_did", (s, d) => {
      import graft.functions.WideDiv.mulDivWideSigned
      val cells = eventCentsMid(s, d)
        .select(
          when(conv(substring(md5(col("user_id").cast("string")), 1, 13),
            16, 10).cast("long") % 2 === 0, lit("A")).otherwise(lit("B"))
            .as("arm"),
          when(col("us") < col("mid"), lit("pre")).otherwise(lit("post"))
            .as("period"),
          col("vc"))
        .groupBy("arm", "period")
        .agg(count(lit(1)).as("n"), sum(col("vc")).as("sv"))
        .withColumn("mean_micro",
          mulDivWideSigned(col("sv"), lit(1000000L), col("n")))
      cells.agg(
          sum(when(col("arm") === "A" && col("period") === "pre",
            col("mean_micro"))).as("a_pre_micro"),
          sum(when(col("arm") === "A" && col("period") === "post",
            col("mean_micro"))).as("a_post_micro"),
          sum(when(col("arm") === "B" && col("period") === "pre",
            col("mean_micro"))).as("b_pre_micro"),
          sum(when(col("arm") === "B" && col("period") === "post",
            col("mean_micro"))).as("b_post_micro"))
        .select(col("a_pre_micro"), col("a_post_micro"), col("b_pre_micro"),
          col("b_post_micro"),
          ((col("a_post_micro") - col("a_pre_micro")) -
            (col("b_post_micro") - col("b_pre_micro"))).as("did_micro"))
    },
      // each cell mean truncates separately (HUGEINT // = trunc-toward-zero,
      // the mulDivWideSigned contract); DiD is then exact integer algebra
      s"""$sqlEventCentsMid,
         cells AS (
           SELECT CASE WHEN CAST('0x' ||
                    substr(md5(CAST(user_id AS VARCHAR)), 1, 13) AS BIGINT)
                    % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
                  CASE WHEN us < mid THEN 'pre' ELSE 'post' END AS period,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(vc) AS BIGINT) AS sv
           FROM ev, mid GROUP BY 1, 2),
         m AS (
           SELECT arm, period,
                  CAST(CAST(sv AS HUGEINT) * 1000000 //
                       CAST(n AS HUGEINT) AS BIGINT) AS mean_micro
           FROM cells),
         p AS (
           SELECT sum(CASE WHEN arm = 'A' AND period = 'pre'
                           THEN mean_micro END) AS a_pre_micro,
                  sum(CASE WHEN arm = 'A' AND period = 'post'
                           THEN mean_micro END) AS a_post_micro,
                  sum(CASE WHEN arm = 'B' AND period = 'pre'
                           THEN mean_micro END) AS b_pre_micro,
                  sum(CASE WHEN arm = 'B' AND period = 'post'
                           THEN mean_micro END) AS b_post_micro
           FROM m)
         SELECT CAST(a_pre_micro AS BIGINT) AS a_pre_micro,
                CAST(a_post_micro AS BIGINT) AS a_post_micro,
                CAST(b_pre_micro AS BIGINT) AS b_pre_micro,
                CAST(b_post_micro AS BIGINT) AS b_post_micro,
                CAST((a_post_micro - a_pre_micro) -
                     (b_post_micro - b_pre_micro) AS BIGINT) AS did_micro
         FROM p"""),

    // session conversion by length: gap-sessionize the event stream
    // (reusing operators/Sessions — one user window), then conversion
    // share per session-length bucket. The "do longer sessions buy more"
    // read-out, exact to the ppm
    Q("q_eng_session_conversion", (s, d) => {
      val sess = graft.operators.Sessions.sessionize(
        Tables.events(s, d).select("event_id", "user_id", "ts", "event_type"),
        col("user_id"), col("ts"), col("event_id"), gapUs = 30L * 60 * 1000000)
      val per = sess.groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"))
      per.groupBy(least(col("n_events"), lit(10L)).as("len_bucket"))
        .agg(count(lit(1)).as("n_sessions"), sum("converted").as("n_converted"))
        .withColumn("conversion_ppm",
          expr("n_converted * 1000000 DIV n_sessions"))
        .orderBy("len_bucket")
    },
      """WITH e AS (SELECT user_id, event_id, event_type,
                           epoch_us(CAST(ts AS TIMESTAMP)) AS us
                    FROM events),
         o AS (SELECT user_id, us, event_type,
                      CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w > 1800000000
                           THEN 1 ELSE 0 END AS is_new,
                      event_id
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         s AS (SELECT user_id, event_type,
                      sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_idx
               FROM o),
         per AS (SELECT user_id, session_idx,
                        CAST(count(*) AS BIGINT) AS n_events,
                        CAST(max(CASE WHEN event_type = 'purchase' THEN 1
                                      ELSE 0 END) AS BIGINT) AS converted
                 FROM s GROUP BY 1, 2),
         b AS (SELECT least(n_events, 10) AS len_bucket,
                      CAST(count(*) AS BIGINT) AS n_sessions,
                      CAST(sum(converted) AS BIGINT) AS n_converted
               FROM per GROUP BY 1)
         SELECT len_bucket, n_sessions, n_converted,
                CAST(n_converted * 1000000 // n_sessions AS BIGINT)
                  AS conversion_ppm
         FROM b ORDER BY len_bucket"""),

    // moving 7-day exact median of daily revenue: the robust smoother a
    // mean can't give you under spikes. The same coverage-explosion trick
    // as DAU/WAU turns the sliding window into plain groups (each day
    // feeds the 7 windows it belongs to), then the rank rule selects the
    // two middle values — integer cents, full windows only
    Q("q_eng_moving_median", (s, d) => {
      val daily = dailyRevenue(s, d)
      val cov = daily.select(
        explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"),
        col("day"), col("x"))
      val wR = Window.partitionBy("wday").orderBy(col("x"), col("day"))
      val wN = Window.partitionBy("wday")
      cov.withColumn("rn", row_number().over(wR).cast("long"))
        .withColumn("n", count(lit(1)).over(wN))
        .groupBy("wday")
        .agg((max(when(col("rn") === expr("(n + 1) DIV 2"), col("x"))) +
          max(when(col("rn") === expr("n DIV 2 + 1"), col("x"))))
          .as("median_cents2"), max("n").as("n_days"))
        .where(col("n_days") === 7)
        .select(col("wday").cast("string").as("day"), col("median_cents2"))
        .orderBy("day")
    },
      s"""WITH daily AS (
           ${sqlDailyRevenue()}),
         cov AS (SELECT CAST(t.d2 AS DATE) AS wday, day, x
                 FROM daily, unnest(generate_series(CAST(day AS TIMESTAMP),
                          CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
                          INTERVAL 1 DAY)) t(d2)),
         r AS (SELECT wday, x,
                      row_number() OVER (PARTITION BY wday ORDER BY x, day)
                        AS rn,
                      count(*) OVER (PARTITION BY wday) AS n
               FROM cov),
         m AS (SELECT wday,
                      CAST(max(CASE WHEN rn = (n + 1) // 2 THEN x END)
                         + max(CASE WHEN rn = n // 2 + 1 THEN x END)
                        AS BIGINT) AS median_cents2,
                      max(n) AS n_days
               FROM r GROUP BY 1)
         SELECT CAST(wday AS VARCHAR) AS day, median_cents2
         FROM m WHERE n_days = 7 ORDER BY day"""),

    // growth accounting: month-over-month new / retained / churned
    // customers — the standard startup-metrics decomposition. Active
    // months self-align by shifting the previous month forward (+1) into
    // ONE full-outer join on (month, customer); a semi-join against the
    // real month list drops the phantom month after the last
    Q("q_eng_growth_accounting", (s, d) => {
      val am = Tables.orders(s, d).select(
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("ym"),
        col("o_custkey").as("ck")).distinct()
      val cur = am.withColumn("c", lit(1))
      val pre = am.select((col("ym") + 1).as("ym"), col("ck"), lit(1).as("p"))
      cur.join(pre, Seq("ym", "ck"), "full_outer")
        .join(am.select("ym").distinct(), Seq("ym"), "left_semi")
        .groupBy("ym").agg(
          count(when(col("c").isNotNull && col("p").isNull, 1)).as("n_new"),
          count(when(col("c").isNotNull && col("p").isNotNull, 1))
            .as("n_retained"),
          count(when(col("c").isNull && col("p").isNotNull, 1))
            .as("n_churned"))
        .orderBy("ym")
    },
      """WITH am AS (
           SELECT DISTINCT
                  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
                    AS ym,
                  o_custkey AS ck
           FROM orders),
         j AS (
           SELECT COALESCE(c.ym, p.ym) AS ym,
                  c.ck IS NOT NULL AS in_c, p.ck IS NOT NULL AS in_p
           FROM am c
           FULL OUTER JOIN (SELECT ym + 1 AS ym, ck FROM am) p
             ON c.ym = p.ym AND c.ck = p.ck)
         SELECT ym,
                CAST(count(CASE WHEN in_c AND NOT in_p THEN 1 END) AS BIGINT)
                  AS n_new,
                CAST(count(CASE WHEN in_c AND in_p THEN 1 END) AS BIGINT)
                  AS n_retained,
                CAST(count(CASE WHEN NOT in_c AND in_p THEN 1 END) AS BIGINT)
                  AS n_churned
         FROM j WHERE ym IN (SELECT ym FROM am)
         GROUP BY 1 ORDER BY ym"""),

    // HITS hubs/authorities on the co-purchase graph, three unrolled
    // power-iteration steps in exact integer arithmetic: each step sums the
    // opposite score across edges, then rescales to ppm of the step maximum
    // through the wide exact division — no float normalization, so the
    // recurrence is bit-identical cross-engine. Per step: one edge-key
    // shuffle join + node-sized aggregate + 1-row broadcast max; the same
    // plan family as PageRank. Complements PageRank: eigenvector centrality
    // of A·Aᵀ vs the random walk. Top-20 via TakeOrderedAndProject, part_id
    // tiebreak. Each normalized score frame is localCheckpoint'ed (node-
    // sized): normPpm consumes its input twice (max + join) and each level
    // feeds the next twice over, so without truncation the lineage — and the
    // recomputation — doubles per unrolled step (Graph.scala:120 pattern).
    Q("q_eng_hits", (s, d) => {
      import graft.functions.WideDiv.mulDivWide
      val e = copurchaseEdges(s, d).select(col("src"), col("dst"))
      def normPpm(df: DataFrame): (DataFrame, Long) = {
        // checkpoint the NODE-sized score frame BEFORE the max: computed
        // over the raw lineage, the max aggregate re-executed the whole
        // edge pass a second time per step (opt r13 — 6 edge passes → 3).
        // The count below is the checkpoint's materializing action,
        // and its result feeds the BroadcastGate for this frame's joins.
        val base = df.localCheckpoint(false)
        val n = base.count()
        val mx = base.agg(max(col("v")).as("mx"))
        (base.crossJoin(broadcast(mx))
          .select(col("node"),
            mulDivWide(col("v"), lit(1000000L), col("mx")).as("p")), n)
      }
      // score frames are VERTEX-sized: attach them via BroadcastGate so
      // the edge table never shuffles for the per-step joins — one
      // exchange per step (the node-keyed partial-aggregated sum), the
      // PageRank.prepared shape (opt r13, guide §3.1). Past the row
      // ceiling the gate flips each attach to shuffle_hash instead of
      // riding a bare hint into the broadcast hard limit (opt r14,
      // VERDICT r13 #2).
      import graft.util.BroadcastGate
      val (a1, na1) = normPpm(
        e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("v")))
      val (h1, nh1) = normPpm(
        e.join(BroadcastGate(a1.select(col("node").as("n2"), col("p")), na1),
            col("dst") === col("n2"))
          .groupBy(col("src").as("node")).agg(sum(col("p")).as("v")))
      val (a2, _) = normPpm(
        e.join(BroadcastGate(
              h1.select(col("node").as("n2"), col("p").as("hp")), nh1),
            col("src") === col("n2"))
          .groupBy(col("dst").as("node")).agg(sum(col("hp")).as("v")))
      a2.select(col("node"), col("p").as("auth_ppm"))
        .join(BroadcastGate(
            h1.select(col("node").as("n3"), col("p").as("hub_ppm")), nh1),
          col("node") === col("n3"))
        .select(col("node").as("part_id"), col("auth_ppm"), col("hub_ppm"))
        .orderBy(col("auth_ppm").desc, col("part_id"))
        .limit(20)
    },
      s"""WITH $copurchaseSql,
         ia AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS v
                FROM e GROUP BY 1),
         iam AS (SELECT CAST(max(v) AS HUGEINT) AS mx FROM ia),
         na AS (SELECT node, CAST(CAST(v AS HUGEINT) * 1000000 // iam.mx
                  AS BIGINT) AS p FROM ia, iam),
         ih AS (SELECT e.src AS node, CAST(sum(na.p) AS BIGINT) AS v
                FROM e JOIN na ON e.dst = na.node GROUP BY 1),
         ihm AS (SELECT CAST(max(v) AS HUGEINT) AS mx FROM ih),
         nh AS (SELECT node, CAST(CAST(v AS HUGEINT) * 1000000 // ihm.mx
                  AS BIGINT) AS p FROM ih, ihm),
         ia2 AS (SELECT e.dst AS node, CAST(sum(nh.p) AS BIGINT) AS v
                 FROM e JOIN nh ON e.src = nh.node GROUP BY 1),
         ia2m AS (SELECT CAST(max(v) AS HUGEINT) AS mx FROM ia2),
         na2 AS (SELECT node, CAST(CAST(v AS HUGEINT) * 1000000 // ia2m.mx
                   AS BIGINT) AS p FROM ia2, ia2m)
         SELECT na2.node AS part_id, na2.p AS auth_ppm, nh.p AS hub_ppm
         FROM na2 JOIN nh ON na2.node = nh.node
         ORDER BY auth_ppm DESC, part_id LIMIT 20"""),

    // Newman modularity of 3-hop min-label communities on the weighted
    // co-purchase graph (parts sharing ≥ 2 orders — the hits/BFS graph,
    // suite-cached): labels come from 3 rounds of SYNCHRONOUS min-label
    // propagation, label(n) ← min over the CLOSED neighborhood (the
    // self-loop union turns each round into one aggregate, and min is a
    // total order — no tie-break rule needed). Then the unweighted
    // Q = Σ_c [m_c/m − (d_c/2m)²] = (4m·Σm_c − Σd_c²) / 4m² in exact
    // signed ppm via DECIMAL(38) — Σd_c² ≤ 4m² overflows int64 past
    // ~1.5e9 edges. Scale shape: 3 bounded rounds of one dst-keyed join +
    // node-sized min-aggregate (the standard CC iterate, same as
    // StarComponents' small-star step); community stats are two node-sized
    // joins; output is ONE row. The oracle unrolls the same 3 rounds as
    // CTEs, so equality proves every propagation round bit-exact.
    Q("q_eng_modularity", (s, d) => {
      import graft.functions.WideDiv.{mulDivWideSigned, wide}
      val und = copurchaseEdges(s, d).select(col("src"), col("dst"))
      val ec = und.where(col("src") < col("dst"))
        .select(col("src").as("u"), col("dst").as("v"))
      val nodes = und.select(col("src").as("n")).distinct()
        .localCheckpoint(false)
      // every propagation round's label table has exactly |nodes| rows
      // (undc's self-loops keep every node a src), so ONE count gates
      // every lab attach below — broadcast under the row ceiling,
      // shuffle_hash past it instead of riding a bare hint into the
      // broadcast hard limit (opt r14, VERDICT r13 #2). The checkpoint
      // materializes inside this count.
      val nNodes = nodes.count()
      def attachLab(df: DataFrame) = graft.util.BroadcastGate(df, nNodes)
      // consumed once per label-prop round: materialize the self-loop
      // union once instead of re-running the union + nodes-distinct per
      // round (opt r13, guide §2.4)
      val undc = und.union(nodes.select(col("n"), col("n"))).localCheckpoint(false)
      var lab = nodes.select(col("n"), col("n").as("lab"))
      for (_ <- 1 to 3) {
        // lab is VERTEX-sized — attach it gated so the edge table never
        // shuffles for the propagation join while the vertex count fits;
        // each round costs ONE exchange (the partial-aggregated
        // min-by-src), the same per-iteration shape as
        // PageRank.prepared (opt r13, guide §3.1)
        lab = undc.as("g")
          .join(attachLab(lab).as("l"), col("g.dst") === col("l.n"))
          .groupBy(col("g.src").as("n"))
          .agg(min(col("l.lab")).as("lab"))
      }
      lab = lab.localCheckpoint(false) // consumed 3x below; truncate the lineage
      val mdf = ec.agg(count(lit(1)).as("m"))
      val win = ec
        .join(attachLab(lab.select(col("n").as("nu"), col("lab").as("lu"))),
          col("u") === col("nu"))
        .join(attachLab(lab.select(col("n").as("nv"), col("lab").as("lv"))),
          col("v") === col("nv"))
        .where(col("lu") === col("lv"))
        .agg(count(lit(1)).as("within_edges"))
      val deg = und.groupBy(col("src").as("dn")).agg(count(lit(1)).as("deg"))
      val s2 = deg.join(lab, col("dn") === col("n"))
        .groupBy(col("lab")).agg(sum(col("deg")).as("dsum"))
        .agg(sum(wide(col("dsum")) * wide(col("dsum"))).as("sum_dc2"))
      val nc = lab.agg(countDistinct(col("lab")).as("n_communities"))
      broadcast(mdf).crossJoin(broadcast(win)).crossJoin(broadcast(s2))
        .crossJoin(broadcast(nc))
        .select(
          mulDivWideSigned(
            wide(col("m")) * wide(col("within_edges")) * lit(4L)
              - col("sum_dc2"),
            lit(1000000L),
            wide(col("m")) * wide(col("m")) * lit(4L)).as("modularity_ppm"),
          col("n_communities"), col("m").as("n_edges"), col("within_edges"))
    },
      // 3 unrolled min-label rounds over the closed neighborhood, then the
      // same integer modularity algebra; MATERIALIZED stops DuckDB from
      // re-inlining the propagation chain into every downstream reference
      s"""WITH $copurchaseSql,
         nodes AS (SELECT DISTINCT src AS n FROM e),
         undc AS MATERIALIZED (SELECT src, dst FROM e
               UNION ALL SELECT n, n FROM nodes),
         l1 AS MATERIALIZED (SELECT g.src AS n, min(l.n) AS lab
               FROM undc g JOIN nodes l ON g.dst = l.n GROUP BY 1),
         l2 AS MATERIALIZED (SELECT g.src AS n, min(l.lab) AS lab
               FROM undc g JOIN l1 l ON g.dst = l.n GROUP BY 1),
         l3 AS MATERIALIZED (SELECT g.src AS n, min(l.lab) AS lab
               FROM undc g JOIN l2 l ON g.dst = l.n GROUP BY 1),
         mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
         wc AS (SELECT CAST(count(*) AS BIGINT) AS within_edges
               FROM und JOIN l3 a ON und.u = a.n JOIN l3 b ON und.v = b.n
               WHERE a.lab = b.lab),
         deg AS (SELECT src AS n, CAST(count(*) AS BIGINT) AS deg
               FROM e GROUP BY 1),
         dc AS (SELECT l3.lab, CAST(sum(deg.deg) AS BIGINT) AS dsum
               FROM deg JOIN l3 USING (n) GROUP BY 1),
         s2 AS (SELECT CAST(sum(CAST(dsum AS HUGEINT) * dsum) AS HUGEINT)
                  AS sum_dc2 FROM dc),
         nc AS (SELECT CAST(count(DISTINCT lab) AS BIGINT) AS n_communities
               FROM l3)
         SELECT ${graft.functions.WideDiv.sqlMulDivSigned(
        "4 * CAST(mm.m AS HUGEINT) * wc.within_edges - s2.sum_dc2",
        "1000000",
        "4 * CAST(mm.m AS HUGEINT) * mm.m")} AS modularity_ppm,
                nc.n_communities, mm.m AS n_edges, wc.within_edges
         FROM mm, wc, s2, nc"""),

    // Event-time lateness audit over ARRIVAL order (event_id): late =
    // inclusive running max of event time minus the event's own time — the
    // out-of-orderness statistic a streaming watermark is sized from (a
    // watermark of W ms drops exactly the events with late > W, so the
    // per-type tail of this histogram IS the watermark decision). The
    // running max runs through StableIds.runningMaxes — a range-partitioned
    // two-phase prefix scan, never `max() OVER (ORDER BY …)`, which would
    // funnel the whole corpus through one window task. The log2 bucket
    // (bit length of the millisecond lateness) keeps the histogram to
    // ~40 rows per type at any scale.
    Q("q_eng_event_lateness", (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          unix_millis(col("ts")).as("ms"))
      graft.operators.StableIds.runningMaxes(ev, Seq(col("event_id")),
          Seq("ms" -> "run_max"))
        .select(col("event_type"), (col("run_max") - col("ms")).as("late"))
        .groupBy(col("event_type"),
          when(col("late") === 0L, 0).otherwise(length(bin(col("late"))))
            .cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_events"), max(col("late")).as("max_late_ms"))
        .orderBy("event_type", "bucket")
    },
      // the oracle may use the global window — IT runs on one node by
      // design; the Spark side must not (StableIds.runningMaxes)
      """WITH l AS (
           SELECT event_type,
                  max(epoch_ms(CAST(ts AS TIMESTAMP)))
                    OVER (ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - epoch_ms(CAST(ts AS TIMESTAMP)) AS late
           FROM events)
         SELECT event_type,
                CAST(CASE WHEN late = 0 THEN 0
                     ELSE length(bin(late)) END AS BIGINT) AS bucket,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(max(late) AS BIGINT) AS max_late_ms
         FROM l GROUP BY 1, 2 ORDER BY event_type, bucket"""),

    // Welch two-sample t² between the md5 A/B arms (the ab_srm assignment)
    // on order totals, from exact integer-dollar moments: per arm n, S=Σv,
    // SS=Σv² with v = floor(o_totalprice) whole dollars — dollar (not cent)
    // granularity keeps n·(n·SS − S²)·10⁶ inside DECIMAL(38) far beyond
    // sf1000. The squared mean difference and the variance-of-the-mean-diff
    // are each separately truncated to micro units, then divided once more:
    // the integer recurrence IS the cross-engine contract (the DiD
    // discipline), not real-valued Welch. One fact-sized aggregate;
    // everything after the 2-row arm table is 1-row scalar algebra.
    Q("q_eng_welch_ttest", (s, d) => {
      import graft.functions.WideDiv.mulDivWideSigned
      val o = Tables.orders(s, d)
        .select(
          when(conv(substring(md5(col("o_custkey").cast("string")), 1, 13),
            16, 10).cast("long") % 2 === 0, lit("A")).otherwise(lit("B"))
            .as("arm"),
          floor(col("o_totalprice")).cast("long").as("v"))
      val arms = o.groupBy("arm").agg(
        count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(wide(col("v")) * wide(col("v"))).as("svv"))
      arms.agg(
          sum(when(col("arm") === "A", col("n"))).as("n_a"),
          sum(when(col("arm") === "A", col("sv"))).as("s_a"),
          sum(when(col("arm") === "A", col("svv"))).as("ss_a"),
          sum(when(col("arm") === "B", col("n"))).as("n_b"),
          sum(when(col("arm") === "B", col("sv"))).as("s_b"),
          sum(when(col("arm") === "B", col("svv"))).as("ss_b"))
        .select(col("n_a"), col("n_b"),
          (mulDivWideSigned(col("s_a"), lit(1000000L), col("n_a")) -
            mulDivWideSigned(col("s_b"), lit(1000000L), col("n_b")))
            .as("dm_micro"),
          (mulDivWideSigned(
              wide(col("n_a")) * col("ss_a") -
                wide(col("s_a")) * wide(col("s_a")),
              lit(1000000L),
              wide(col("n_a")) * wide(col("n_a")) * wide(col("n_a") - 1)) +
            mulDivWideSigned(
              wide(col("n_b")) * col("ss_b") -
                wide(col("s_b")) * wide(col("s_b")),
              lit(1000000L),
              wide(col("n_b")) * wide(col("n_b")) * wide(col("n_b") - 1)))
            .as("se2_micro"))
        .select(col("n_a"), col("n_b"), col("dm_micro"), col("se2_micro"),
          when(col("se2_micro") === 0L, lit(null).cast("long"))
            .otherwise(mulDivWideSigned(
              wide(col("dm_micro")) * wide(col("dm_micro")),
              lit(1L), col("se2_micro"))).as("t2_micro"))
    },
      """WITH v AS (
           SELECT CASE WHEN CAST('0x' ||
                    substr(md5(CAST(o_custkey AS VARCHAR)), 1, 13) AS BIGINT)
                    % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
                  CAST(floor(o_totalprice) AS BIGINT) AS val
           FROM orders),
         m AS (
           SELECT arm, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(val) AS BIGINT) AS sv,
                  sum(CAST(val AS HUGEINT) * CAST(val AS HUGEINT)) AS svv
           FROM v GROUP BY arm),
         w AS (
           SELECT CAST(sum(CASE WHEN arm = 'A' THEN n END) AS HUGEINT) AS n_a,
                  CAST(sum(CASE WHEN arm = 'A' THEN sv END) AS HUGEINT) AS s_a,
                  sum(CASE WHEN arm = 'A' THEN svv END) AS ss_a,
                  CAST(sum(CASE WHEN arm = 'B' THEN n END) AS HUGEINT) AS n_b,
                  CAST(sum(CASE WHEN arm = 'B' THEN sv END) AS HUGEINT) AS s_b,
                  sum(CASE WHEN arm = 'B' THEN svv END) AS ss_b
           FROM m),
         t AS (
           SELECT n_a, n_b,
                  CAST(s_a * 1000000 // n_a - s_b * 1000000 // n_b AS BIGINT)
                    AS dm_micro,
                  CAST((n_a * ss_a - s_a * s_a) * 1000000
                         // (n_a * n_a * (n_a - 1)) +
                       (n_b * ss_b - s_b * s_b) * 1000000
                         // (n_b * n_b * (n_b - 1)) AS BIGINT) AS se2_micro
           FROM w)
         SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                dm_micro, se2_micro,
                CASE WHEN se2_micro = 0 THEN NULL
                     ELSE CAST(CAST(dm_micro AS HUGEINT) *
                               CAST(dm_micro AS HUGEINT) // se2_micro
                          AS BIGINT) END AS t2_micro
         FROM t"""),

    // Daily-revenue autocorrelation at lags 1..7 — the periodicity probe a
    // forecasting/seasonality audit starts from. Exact integer contract:
    // center in the integer domain as c_d = n·x_d − S (no float mean), so
    // acf_ppm(L) = trunc(1e6 · Σ c_d·c_{d+L} / Σ c_d²) is a pure
    // DECIMAL(38) rational — c ≈ n·x stays ≤ ~1e13 cents·days at sf1 and
    // the squared sums ≤ ~1e28, well inside the wide domain. The lag join
    // runs on the bounded day domain (≤ ~2.4k distinct order days at any
    // SF — day-domain tables are constant in corpus size); the only
    // corpus-sized work is the daily aggregate.
    Q("q_eng_acf", (s, d) => {
      import graft.functions.WideDiv.mulDivWideSigned
      val daily = dailyRevenue(s, d)
      val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
      val c = daily.crossJoin(broadcast(tot))
        .select(col("day"),
          (wide(col("n")) * col("x") - wide(col("sx"))).as("c"))
      val c0 = c.agg(sum(col("c") * col("c")).as("c0"))
      val lags = s.range(1, 8).select(col("id").cast("int").as("lag"))
      c.crossJoin(broadcast(lags))
        .join(c.select(col("day").as("day2"), col("c").as("c2")),
          date_add(col("day"), col("lag")) === col("day2"))
        .groupBy("lag")
        .agg(count(lit(1)).as("n_pairs"), sum(col("c") * col("c2")).as("num"))
        .crossJoin(broadcast(c0))
        .select(col("lag").cast("long").as("lag"), col("n_pairs"),
          when(col("c0") === lit(0).cast("decimal(38,0)"),
            lit(null).cast("long"))
            .otherwise(mulDivWideSigned(col("num"), lit(1000000L), col("c0")))
            .as("acf_ppm"))
        .orderBy("lag")
    },
      s"""WITH daily AS (
           ${sqlDailyRevenue()}),
         tot AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                        CAST(sum(x) AS HUGEINT) AS sx FROM daily),
         c AS (SELECT day, n * x - sx AS c FROM daily, tot),
         c0 AS (SELECT sum(c * c) AS c0 FROM c),
         l AS (SELECT CAST(range AS INTEGER) AS lag FROM range(1, 8)),
         p AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
                      sum(a.c * b.c) AS num
               FROM c a, l, c b WHERE b.day = a.day + lag
               GROUP BY lag)
         SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
                CASE WHEN c0.c0 = 0 THEN NULL
                     ELSE CAST(CAST(num AS HUGEINT) * 1000000
                               // CAST(c0.c0 AS HUGEINT) AS BIGINT)
                END AS acf_ppm
         FROM p, c0 ORDER BY lag"""),

    // cross-correlation of daily ORDER COUNT against daily REVENUE at
    // calendar lags −7..+7 — the lead/lag dependence readout next to
    // q_eng_acf (positive lags: does volume LEAD revenue?). Same exact
    // integer centering (cx = n·cnt − Σcnt, cy = n·rev − Σrev, never a
    // float mean); the normalizer √(Σcx²·Σcy²) is the tau_b discipline —
    // sqrt is IEEE correctly rounded and the DECIMAL(38,0) operands
    // convert exactly, so the double is one identical tree in both
    // engines. Day-domain bounded everywhere after the daily aggregate.
    Q("q_eng_ccf", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("cnt"),
          sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
            .as("rev"))
      val tot = daily.agg(count(lit(1)).as("n"),
        sum(col("cnt")).as("scnt"), sum(col("rev")).as("srev"))
      val c = daily.crossJoin(broadcast(tot))
        .select(col("day"),
          (wide(col("n")) * col("cnt") - wide(col("scnt"))).as("cx"),
          (wide(col("n")) * col("rev") - wide(col("srev"))).as("cy"))
      val den = c.agg(sum(col("cx") * col("cx")).as("cx0"),
        sum(col("cy") * col("cy")).as("cy0"))
      val lags = s.range(-7, 8).select(col("id").cast("int").as("lag"))
      c.crossJoin(broadcast(lags))
        .join(c.select(col("day").as("day2"), col("cy").as("cy2")),
          date_add(col("day"), col("lag")) === col("day2"))
        .groupBy("lag")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("cx") * col("cy2")).as("num"))
        .crossJoin(broadcast(den))
        .select(col("lag").cast("long").as("lag"), col("n_pairs"),
          // micro-quantized: num > 2^53 here, and DuckDB's int128→double
          // conversion truncates where Spark's DECIMAL path rounds — a
          // 1-ulp divergence the floor absorbs (margins ≥ 3.8e-3 micro at
          // both gate SFs, audited in the wave-9 spec)
          floor(col("num").cast("double") /
            sqrt(col("cx0").cast("double") * col("cy0").cast("double")) *
            lit(1000000.0) + lit(0.5)).cast("long").as("ccf_micro"))
        .orderBy("lag")
    },
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS cnt,
                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
           FROM orders GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                        CAST(sum(cnt) AS HUGEINT) AS scnt,
                        CAST(sum(rev) AS HUGEINT) AS srev FROM daily),
         c AS (SELECT day, n * cnt - scnt AS cx, n * rev - srev AS cy
               FROM daily, tot),
         den AS (SELECT sum(cx * cx) AS cx0, sum(cy * cy) AS cy0 FROM c),
         l AS (SELECT CAST(range AS INTEGER) AS lag FROM range(-7, 8)),
         p AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
                      sum(a.cx * b.cy) AS num
               FROM c a, l, c b WHERE b.day = a.day + lag
               GROUP BY lag)
         SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
                CAST(floor(CAST(num AS DOUBLE)
                  / sqrt(CAST(den.cx0 AS DOUBLE) * CAST(den.cy0 AS DOUBLE))
                  * 1000000.0 + 0.5) AS BIGINT) AS ccf_micro
         FROM p, den ORDER BY lag"""),

    // Wald–Wolfowitz runs test on the SIGN of day-over-day revenue moves:
    // R = number of maximal up/down runs; z² = (R − E[R])²/Var[R] with
    // E = 2pm/n + 1, Var = 2pm(2pm−n)/(n²(n−1)) — algebraically collapsed
    // to the single exact rational z² = D²(n−1)/(2pm(2pm−n)), D = Rn−2pm−n,
    // evaluated once in DECIMAL(38): no float surface at all. Complements
    // Mann-Kendall (monotone trend) with a randomness-of-direction test.
    // Both window scans run on the bounded day domain (≤ ~2.4k rows at any
    // SF) — keys-sized, never corpus-sized.
    Q("q_eng_runs_test", (s, d) => {
      import graft.functions.WideDiv.mulDivWide
      val daily = dailyRevenue(s, d)
      // bounded-domain window: distinct order days, constant in corpus size
      val w = Window.orderBy("day")
      val sg = daily
        .select(col("day"), (col("x") - lag(col("x"), 1).over(w)).as("dx"))
        .where(col("dx").isNotNull && col("dx") =!= 0L)
        .select(col("day"), when(col("dx") > 0, 1).otherwise(-1).as("sg"))
      val ch = sg.select(col("sg"),
        when(lag(col("sg"), 1).over(w).isNull ||
          col("sg") =!= lag(col("sg"), 1).over(w), 1L).otherwise(0L).as("chg"))
      ch.agg(
          sum(when(col("sg") === 1, 1L).otherwise(0L)).as("p"),
          sum(when(col("sg") === -1, 1L).otherwise(0L)).as("m"),
          sum(col("chg")).as("r"))
        .select(col("p"), col("m"), col("r"),
          (wide(col("r")) * wide(col("p") + col("m")) -
            lit(2).cast("decimal(38,0)") * wide(col("p")) * wide(col("m")) -
            wide(col("p") + col("m"))).as("dd"),
          (lit(2).cast("decimal(38,0)") * wide(col("p")) * wide(col("m")) *
            (lit(2).cast("decimal(38,0)") * wide(col("p")) * wide(col("m")) -
              wide(col("p") + col("m")))).as("den"))
        .select((col("p") + col("m")).as("n_days"), col("p").as("n_pos"),
          col("m").as("n_neg"), col("r").as("n_runs"),
          when(col("den") <= lit(0).cast("decimal(38,0)"),
            lit(null).cast("long"))
            .otherwise(mulDivWide(
              col("dd") * col("dd") * wide(col("p") + col("m") - 1),
              lit(1000000L), col("den"))).as("z2_micro"))
    },
      s"""WITH daily AS (
           ${sqlDailyRevenue()}),
         df AS (SELECT day, x - lag(x) OVER (ORDER BY day) AS dx FROM daily),
         sg AS (SELECT day, CASE WHEN dx > 0 THEN 1 ELSE -1 END AS sg
                FROM df WHERE dx IS NOT NULL AND dx <> 0),
         ch AS (SELECT sg, CASE WHEN lag(sg) OVER (ORDER BY day) IS NULL
                                  OR sg <> lag(sg) OVER (ORDER BY day)
                           THEN 1 ELSE 0 END AS chg FROM sg),
         a AS (SELECT CAST(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END)
                        AS HUGEINT) AS p,
                      CAST(sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END)
                        AS HUGEINT) AS m,
                      CAST(sum(chg) AS HUGEINT) AS r FROM ch)
         SELECT CAST(p + m AS BIGINT) AS n_days, CAST(p AS BIGINT) AS n_pos,
                CAST(m AS BIGINT) AS n_neg, CAST(r AS BIGINT) AS n_runs,
                CASE WHEN 2 * p * m * (2 * p * m - (p + m)) <= 0 THEN NULL
                     ELSE CAST((r * (p + m) - 2 * p * m - (p + m))
                               * (r * (p + m) - 2 * p * m - (p + m))
                               * (p + m - 1) * 1000000
                               // (2 * p * m * (2 * p * m - (p + m)))
                          AS BIGINT)
                END AS z2_micro
         FROM a""")
  )
}
