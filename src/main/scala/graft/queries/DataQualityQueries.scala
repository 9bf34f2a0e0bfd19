package graft.queries

import graft.Tables
import graft.functions.WideDiv.{mulDivWide, ppmWide, sqlMulDiv, sqlPpm, wide}
import graft.queries.QueryBlocks.{sqlLangLengthSample, sqlSampleQuantiles}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-7 data-quality wave: the pre-training validation gate — a
  * single-pass column profiler and a constraint/integrity audit (the
  * Deequ/Great-Expectations role, re-expressed as plain aggregation plans).
  * At 100 TB these are the checks that run on every snapshot BEFORE a
  * training job reads it: completeness, key uniqueness, referential
  * integrity, domain bounds.
  *
  * Determinism: values that cross the compare boundary are longs (counts,
  * cents, ppm rates) or canonical strings (dates via DATE cast — both
  * engines print ISO-8601; doubles are never stringified).
  */
object DataQualityQueries {

  val registry: Seq[Q] = Seq(
    // single-pass column profiler over orders: per column — null count,
    // exact distinct cardinality, canonical min/max. One scan: the wide
    // aggregate computes every statistic together (Spark plans the distincts
    // through one Expand — column-count × data, the inherent profiler cost),
    // then a 6-way stack unpivots the 1-row result. Doubles profile in
    // exact cents; dates as ISO strings.
    Q("q_eng_profile", (s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("cents", floor(col("o_totalprice") * 100 + 0.5).cast("long"))
        .withColumn("odate", col("o_orderdate").cast("date"))
      // min/max over the two STRING columns live in their own keyless
      // side-aggregate: a string agg buffer is not mutable-fixed-size, so
      // leaving them in the wide aggregate forced the WHOLE profiler —
      // including the 7× Expand for the six distinct counts — through
      // SortAggregate with a full 7-key sort of the expanded rows
      // (plans/r13/q_eng_profile_before.txt). Split, the wide aggregate
      // hash-aggregates; the side pass is a 2-column column-pruned scan
      // folded without any sort (keyless SortAggregate has no Sort), and
      // the two 1-row frames broadcast-crossJoin. Same 6-row output,
      // bitwise. (opt r13, guide §2.3/§7.2)
      val strAgg = o.agg(
        min(col("o_orderstatus")).as("min_stat"),
        max(col("o_orderstatus")).as("max_stat"),
        min(col("o_orderpriority")).as("min_prio"),
        max(col("o_orderpriority")).as("max_prio"))
      val agg = o.agg(
        count(lit(1)).as("n"),
        count(col("o_orderkey")).as("nn_okey"),
        countDistinct(col("o_orderkey")).as("nd_okey"),
        min(col("o_orderkey")).cast("string").as("min_okey"),
        max(col("o_orderkey")).cast("string").as("max_okey"),
        count(col("o_custkey")).as("nn_ckey"),
        countDistinct(col("o_custkey")).as("nd_ckey"),
        min(col("o_custkey")).cast("string").as("min_ckey"),
        max(col("o_custkey")).cast("string").as("max_ckey"),
        count(col("o_orderstatus")).as("nn_stat"),
        countDistinct(col("o_orderstatus")).as("nd_stat"),
        count(col("cents")).as("nn_price"),
        countDistinct(col("cents")).as("nd_price"),
        min(col("cents")).cast("string").as("min_price"),
        max(col("cents")).cast("string").as("max_price"),
        count(col("odate")).as("nn_date"),
        countDistinct(col("odate")).as("nd_date"),
        min(col("odate")).cast("string").as("min_date"),
        max(col("odate")).cast("string").as("max_date"),
        count(col("o_orderpriority")).as("nn_prio"),
        countDistinct(col("o_orderpriority")).as("nd_prio"))
        .crossJoin(broadcast(strAgg))
      agg.selectExpr(
          """stack(6,
             'o_orderkey',      n - nn_okey,  nd_okey,  min_okey,  max_okey,
             'o_custkey',       n - nn_ckey,  nd_ckey,  min_ckey,  max_ckey,
             'o_orderstatus',   n - nn_stat,  nd_stat,  min_stat,  max_stat,
             'o_totalprice_cents', n - nn_price, nd_price, min_price, max_price,
             'o_orderdate',     n - nn_date,  nd_date,  min_date,  max_date,
             'o_orderpriority', n - nn_prio,  nd_prio,  min_prio,  max_prio
           ) AS (col_name, n_nulls, n_distinct, min_val, max_val)""")
        .orderBy("col_name")
    },
      """WITH o AS (
           SELECT o_orderkey, o_custkey, o_orderstatus,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                  CAST(o_orderdate AS DATE) AS odate, o_orderpriority
           FROM orders),
         a AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(count(o_orderkey) AS BIGINT) AS nn_okey,
                  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd_okey,
                  CAST(min(o_orderkey) AS VARCHAR) AS min_okey,
                  CAST(max(o_orderkey) AS VARCHAR) AS max_okey,
                  CAST(count(o_custkey) AS BIGINT) AS nn_ckey,
                  CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_ckey,
                  CAST(min(o_custkey) AS VARCHAR) AS min_ckey,
                  CAST(max(o_custkey) AS VARCHAR) AS max_ckey,
                  CAST(count(o_orderstatus) AS BIGINT) AS nn_stat,
                  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_stat,
                  min(o_orderstatus) AS min_stat,
                  max(o_orderstatus) AS max_stat,
                  CAST(count(cents) AS BIGINT) AS nn_price,
                  CAST(count(DISTINCT cents) AS BIGINT) AS nd_price,
                  CAST(min(cents) AS VARCHAR) AS min_price,
                  CAST(max(cents) AS VARCHAR) AS max_price,
                  CAST(count(odate) AS BIGINT) AS nn_date,
                  CAST(count(DISTINCT odate) AS BIGINT) AS nd_date,
                  CAST(min(odate) AS VARCHAR) AS min_date,
                  CAST(max(odate) AS VARCHAR) AS max_date,
                  CAST(count(o_orderpriority) AS BIGINT) AS nn_prio,
                  CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd_prio,
                  min(o_orderpriority) AS min_prio,
                  max(o_orderpriority) AS max_prio
           FROM o)
         SELECT col_name, n_nulls, n_distinct, min_val, max_val FROM (
           SELECT 'o_orderkey' AS col_name, n - nn_okey AS n_nulls,
                  nd_okey AS n_distinct, min_okey AS min_val, max_okey AS max_val FROM a
           UNION ALL
           SELECT 'o_custkey', n - nn_ckey, nd_ckey, min_ckey, max_ckey FROM a
           UNION ALL
           SELECT 'o_orderstatus', n - nn_stat, nd_stat, min_stat, max_stat FROM a
           UNION ALL
           SELECT 'o_totalprice_cents', n - nn_price, nd_price, min_price, max_price FROM a
           UNION ALL
           SELECT 'o_orderdate', n - nn_date, nd_date, min_date, max_date FROM a
           UNION ALL
           SELECT 'o_orderpriority', n - nn_prio, nd_prio, min_prio, max_prio FROM a)
         ORDER BY col_name"""),

    // sketch-backed grouped profiler (r10 verdict #8): per-language
    // completeness / exact distinct / min-max of documents.n_chars PLUS
    // the distribution readout through graft_quantile_sketch — the
    // mergeable TypedImperativeAggregate (bottom-k-by-md5-priority,
    // k = 256, merge-tree-invariant), whose rank error is itself a gated
    // measurement: ≤ 2.9% at k = 256 against the ±6.25% analytic bound
    // (q_eng_sketch_error). At 100 TB this — not an exact per-group sort
    // — is the profile a snapshot monitor runs: one scan, map-side
    // sketch updates, ≤ k·24-byte merge per group. The oracle replays
    // the identical priority sample and rank reads next to the exact
    // aggregates.
    Q("q_eng_profile_sketch", (s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("prof_docs")
      s.sql(
        """SELECT lang, n, n_nulls, n_distinct, min_val, max_val,
                  qs.q25 AS q25, qs.q50 AS q50, qs.q75 AS q75, qs.q90 AS q90
           FROM (SELECT lang,
                        CAST(count(1) AS BIGINT) AS n,
                        CAST(count(1) - count(n_chars) AS BIGINT) AS n_nulls,
                        CAST(count(DISTINCT n_chars) AS BIGINT) AS n_distinct,
                        CAST(min(n_chars) AS BIGINT) AS min_val,
                        CAST(max(n_chars) AS BIGINT) AS max_val,
                        graft_quantile_sketch(doc_id, n_chars, 256) AS qs
                 FROM prof_docs GROUP BY lang)
           ORDER BY lang""")
    },
      // exact aggregates + the identical bottom-k-by-md5-priority sample
      // and integer rank reads as the q_eng_sketch_quantiles oracle.
      // pr filters NULL n_chars BEFORE the bottom-k: QuantileSketchAgg
      // .update skips null-valued rows, so a NULL admitted into the
      // 256-slot sample would shift every rank read (and surface as a
      // NULL quantile) on exactly the incomplete corpora the n_nulls
      // column exists to flag (ADVICE r11). The exact aggregates in ex
      // keep counting ALL rows — n_nulls stays the completeness readout.
      s"""WITH ${sqlLangLengthSample("documents WHERE n_chars IS NOT NULL")},
         sk AS (SELECT lang,
                  ${sqlSampleQuantiles(25, 50, 75, 90)}
                FROM r GROUP BY lang),
         ex AS (SELECT lang,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(count(*) - count(n_chars) AS BIGINT) AS n_nulls,
                  CAST(count(DISTINCT n_chars) AS BIGINT) AS n_distinct,
                  CAST(min(n_chars) AS BIGINT) AS min_val,
                  CAST(max(n_chars) AS BIGINT) AS max_val
                FROM documents GROUP BY lang)
         SELECT ex.lang, ex.n, ex.n_nulls, ex.n_distinct, ex.min_val,
                ex.max_val,
                CAST(coalesce(sk.q25, 0) AS BIGINT) AS q25,
                CAST(coalesce(sk.q50, 0) AS BIGINT) AS q50,
                CAST(coalesce(sk.q75, 0) AS BIGINT) AS q75,
                CAST(coalesce(sk.q90, 0) AS BIGINT) AS q90
         FROM ex LEFT JOIN sk USING (lang) ORDER BY lang"""),

    // constraint validation suite, one audit row: primary-key uniqueness
    // (duplicate orderkeys), referential integrity in both directions
    // (orders→customer and lineitem→orders orphans, via shuffle anti-joins
    // on the key — the plan shape that still works when both sides are
    // fact-sized), domain bounds (non-positive totals), and completeness
    // (priority present, in ppm). The single-row output is the contract:
    // a violation count a scheduler can gate on.
    Q("q_eng_constraints", (s, d) => {
      val o = Tables.orders(s, d)
      val base = o.agg(
        count(lit(1)).as("n_orders"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_orderkeys"),
        count(when(col("o_totalprice") <= 0, 1)).as("nonpos_totals"),
        count(col("o_orderpriority")).as("nn_prio"))
      val custOrphans = o.select(col("o_custkey"))
        .join(Tables.customer(s, d).select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("cust_orphans"))
      val itemOrphans = Tables.lineitem(s, d).select(col("l_orderkey"))
        .join(o.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("item_orphans"))
      base.crossJoin(broadcast(custOrphans))
        .crossJoin(broadcast(itemOrphans))
        .select(col("n_orders"), col("dup_orderkeys"), col("cust_orphans"),
          col("item_orphans"), col("nonpos_totals"),
          ppmWide(col("nn_prio"), col("n_orders")).as("prio_complete_ppm"))
    },
      s"""WITH base AS (
           SELECT CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
                    AS dup_orderkeys,
                  CAST(count(CASE WHEN o_totalprice <= 0 THEN 1 END)
                    AS BIGINT) AS nonpos_totals,
                  CAST(count(o_orderpriority) AS BIGINT) AS nn_prio
           FROM orders),
         co AS (SELECT CAST(count(*) AS BIGINT) AS cust_orphans
                FROM orders WHERE o_custkey NOT IN
                  (SELECT c_custkey FROM customer)),
         io AS (SELECT CAST(count(*) AS BIGINT) AS item_orphans
                FROM lineitem WHERE l_orderkey NOT IN
                  (SELECT o_orderkey FROM orders))
         SELECT n_orders, dup_orderkeys, cust_orphans, item_orphans,
                nonpos_totals,
                ${sqlPpm("nn_prio", "n_orders")} AS prio_complete_ppm
         FROM base, co, io"""),

    // k-anonymity audit over the (nation, market-segment) quasi-identifier:
    // for each disclosure threshold k, how many QI equivalence classes have
    // fewer than k members and how many individuals those classes expose.
    // The release gate a pipeline runs before publishing per-group rollups
    // of user-derived data. One fact-sized aggregate to the QI-domain-sized
    // class table (map-side combined), then a broadcast 4-row threshold
    // grid — nothing after the first shuffle scales with the corpus.
    Q("q_eng_k_anonymity", (s, d) => {
      val g = Tables.customer(s, d)
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("k"))
      val th = s.range(1).select(
        explode(array(lit(2L), lit(5L), lit(10L), lit(25L))).as("threshold"))
      g.crossJoin(broadcast(th))
        .groupBy(col("threshold"))
        .agg(count(when(col("k") < col("threshold"), 1)).as("groups_below"),
          coalesce(sum(when(col("k") < col("threshold"), col("k"))), lit(0L))
            .as("rows_exposed"),
          count(lit(1)).as("n_groups"),
          min(col("k")).as("min_k"))
        .orderBy(col("threshold"))
    },
      """WITH g AS (
           SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS k
           FROM customer GROUP BY 1, 2),
         t(threshold) AS (VALUES (2), (5), (10), (25))
         SELECT CAST(threshold AS BIGINT) AS threshold,
                CAST(count(CASE WHEN k < threshold THEN 1 END) AS BIGINT)
                  AS groups_below,
                CAST(COALESCE(sum(CASE WHEN k < threshold THEN k END), 0)
                  AS BIGINT) AS rows_exposed,
                CAST(count(*) AS BIGINT) AS n_groups,
                CAST(min(k) AS BIGINT) AS min_k
         FROM g CROSS JOIN t
         GROUP BY threshold ORDER BY threshold"""),

    // l-diversity audit: within each (nation, segment) QI class, how many
    // distinct sensitive values (order priority) do its members carry —
    // histogram of classes by diversity level l. A k-anonymous class with
    // l = 1 still leaks the sensitive attribute outright. Customer is the
    // broadcast dim side; the (QI × priority) distinct is a bounded-domain
    // partial aggregate, so the shuffle after the fact scan moves at most
    // |QI| × 5 rows. Classes whose customers placed no orders carry no
    // sensitive values and are out of scope (inner join).
    Q("q_eng_l_diversity", (s, d) => {
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      Tables.orders(s, d).select(col("o_custkey"), col("o_orderpriority"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey"), col("c_mktsegment"), col("o_orderpriority"))
        .distinct()
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("l"))
        .groupBy(col("l"))
        .agg(count(lit(1)).as("n_groups"))
        .orderBy(col("l"))
    },
      """WITH p AS (
           SELECT DISTINCT c_nationkey, c_mktsegment, o_orderpriority
           FROM orders JOIN customer ON o_custkey = c_custkey),
         g AS (SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS l
               FROM p GROUP BY 1, 2)
         SELECT l, CAST(count(*) AS BIGINT) AS n_groups
         FROM g GROUP BY l ORDER BY l"""),

    // t-closeness audit — the third leg of the release-gate trio
    // (k-anonymity bounds class size, l-diversity bounds sensitive-value
    // count, t-closeness bounds how far a class's sensitive DISTRIBUTION
    // sits from the global one). Sensitive attribute = the ordinal
    // priority digit 1..5; distance = ordered EMD, which for an ordinal
    // domain is the mean absolute prefix-CDF gap:
    //   EMD_c = (1/(m−1)) Σ_{k<m} |P_c(≤k) − P(≤k)|.
    // Exact ppm via cross-multiplication — the per-class per-prefix term
    // is |cum_c(k)·N − cum_g(k)·n_c|, summed and floored ONCE against
    // n_c·N·(m−1). Everything after the one fact-scale aggregate runs on
    // the bounded |QI|×5 class-distribution table (dense prefix grid via
    // a broadcast 4-row join, no windows). Top-10 worst classes, fully
    // tie-broken.
    Q("q_eng_t_closeness", (s, d) => {
      val oc = Tables.orders(s, d)
        .select(col("o_custkey"),
          substring(col("o_orderpriority"), 1, 1).cast("long").as("sc"))
        .join(broadcast(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
          col("sc"))
      val cls = oc.groupBy(col("nk"), col("seg"), col("sc"))
        .agg(count(lit(1)).as("cnt"))
      val nC = cls.groupBy(col("nk"), col("seg")).agg(sum(col("cnt")).as("n_c"))
      val glob = cls.groupBy(col("sc")).agg(sum(col("cnt")).as("g"))
      val nTot = glob.agg(sum(col("g")).as("n_tot"))
      val grid = s.range(1).select(
        explode(sequence(lit(1L), lit(4L))).as("k"))
      val cumg = glob.crossJoin(broadcast(grid)).where(col("sc") <= col("k"))
        .groupBy(col("k")).agg(sum(col("g")).as("cumg"))
      val cumc = cls.crossJoin(broadcast(grid)).where(col("sc") <= col("k"))
        .groupBy(col("nk"), col("seg"), col("k")).agg(sum(col("cnt")).as("cumc"))
      nC.crossJoin(broadcast(grid))
        .join(cumc, Seq("nk", "seg", "k"), "left")
        .join(broadcast(cumg), Seq("k"))
        .crossJoin(broadcast(nTot))
        .select(col("nk"), col("seg"), col("n_c"), col("n_tot"),
          abs(wide(coalesce(col("cumc"), lit(0L))) * wide(col("n_tot")) -
            wide(col("cumg")) * wide(col("n_c"))).as("gap"))
        .groupBy(col("nk"), col("seg"))
        .agg(max(col("n_c")).as("n_class"),
          mulDivWide(sum(col("gap")), lit(1000000L),
            max(wide(col("n_c")) * wide(col("n_tot"))) * lit(4L))
            .as("emd_ppm"))
        .orderBy(col("emd_ppm").desc, col("nk"), col("seg"))
        .limit(10)
    },
      s"""WITH oc AS (
           SELECT c_nationkey AS nk, c_mktsegment AS seg,
                  CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS sc
           FROM orders JOIN customer ON o_custkey = c_custkey),
         cls AS (SELECT nk, seg, sc, CAST(count(*) AS BIGINT) AS cnt
                 FROM oc GROUP BY 1, 2, 3),
         nc AS (SELECT nk, seg, CAST(sum(cnt) AS BIGINT) AS n_c
                FROM cls GROUP BY 1, 2),
         gdist AS (SELECT sc, CAST(sum(cnt) AS BIGINT) AS g
                   FROM cls GROUP BY 1),
         ntot AS (SELECT CAST(sum(g) AS BIGINT) AS n_tot FROM gdist),
         grid AS (SELECT CAST(range AS BIGINT) AS k FROM range(1, 5)),
         cumg AS (SELECT k, CAST(sum(g) AS BIGINT) AS cumg
                  FROM gdist, grid WHERE sc <= k GROUP BY 1),
         cumc AS (SELECT nk, seg, k, CAST(sum(cnt) AS BIGINT) AS cumc
                  FROM cls, grid WHERE sc <= k GROUP BY 1, 2, 3),
         gaps AS (SELECT n.nk, n.seg, n.n_c, t.n_tot,
                    abs(CAST(COALESCE(cc.cumc, 0) AS HUGEINT) * t.n_tot
                        - CAST(cg.cumg AS HUGEINT) * n.n_c) AS gap
                  FROM nc n CROSS JOIN grid g
                  LEFT JOIN cumc cc
                    ON cc.nk = n.nk AND cc.seg = n.seg AND cc.k = g.k
                  JOIN cumg cg ON cg.k = g.k
                  CROSS JOIN ntot t),
         res AS (SELECT nk, seg, CAST(max(n_c) AS BIGINT) AS n_class,
                   CAST(sum(gap) AS HUGEINT) AS sgap,
                   CAST(max(CAST(n_c AS HUGEINT) * n_tot) AS HUGEINT) AS den
                 FROM gaps GROUP BY 1, 2)
         SELECT nk, seg, n_class,
                ${sqlMulDiv("sgap", "1000000", "den * 4")} AS emd_ppm
         FROM res
         ORDER BY emd_ppm DESC, nk, seg
         LIMIT 10"""),

    // Bidirectional referential-integrity audit over every FK edge in the
    // schema: child rows whose FK has no parent (orphans) AND parent rows
    // no child references (unreferenced — the coverage side: customers
    // who never ordered, parts never sold). Scale shape: each edge
    // aggregates the child side to its DISTINCT FK domain with per-key
    // row counts BEFORE touching the parent (the anti-join and the
    // coverage join both move key-domain rows, never fact rows); the five
    // per-edge 1-row summaries union into the 5-row report. The audit a
    // pipeline runs on every snapshot before trusting joins downstream.
    Q("q_eng_orphan_audit", (s, d) => {
      def edge(name: String, child: DataFrame, fk: String,
               parent: DataFrame, pk: String): DataFrame = {
        val dom = child.groupBy(col(fk).as("k")).agg(count(lit(1)).as("c"))
        val par = parent.select(col(pk).as("p"))
        val orphans = dom.join(par, col("k") === col("p"), "left_anti")
          .agg(coalesce(sum(col("c")), lit(0L)).as("orphan_rows"))
        val unref = par.join(dom, col("p") === col("k"), "left_anti")
          .agg(count(lit(1)).as("unreferenced_parents"))
        val nch = child.agg(count(lit(1)).as("n_child"))
        val npar = par.agg(count(lit(1)).as("n_parent"))
        nch.crossJoin(broadcast(orphans)).crossJoin(broadcast(npar))
          .crossJoin(broadcast(unref))
          .select(lit(name).as("edge"), col("n_child"), col("orphan_rows"),
            ppmWide(col("orphan_rows"), col("n_child")).as("orphan_ppm"),
            col("n_parent"), col("unreferenced_parents"),
            ppmWide(col("unreferenced_parents"), col("n_parent"))
              .as("unref_ppm"))
      }
      val li = Tables.lineitem(s, d)
      edge("lineitem.l_orderkey->orders", li, "l_orderkey",
          Tables.orders(s, d), "o_orderkey")
        .unionAll(edge("lineitem.l_partkey->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey"))
        .unionAll(edge("lineitem.l_suppkey->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey"))
        .unionAll(edge("orders.o_custkey->customer", Tables.orders(s, d),
          "o_custkey", Tables.customer(s, d), "c_custkey"))
        .unionAll(edge("customer.c_nationkey->nation", Tables.customer(s, d),
          "c_nationkey", Tables.nation(s, d), "n_nationkey"))
        .orderBy(col("edge"))
    },
      s"""WITH rows_u AS (
           SELECT 'lineitem.l_orderkey->orders' AS edge,
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
               AS orphan_rows,
             (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_parent,
             (SELECT CAST(count(*) AS BIGINT) FROM orders
              WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem))
               AS unreferenced_parents
           UNION ALL
           SELECT 'lineitem.l_partkey->part',
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_partkey NOT IN (SELECT p_partkey FROM part)),
             (SELECT CAST(count(*) AS BIGINT) FROM part),
             (SELECT CAST(count(*) AS BIGINT) FROM part
              WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem))
           UNION ALL
           SELECT 'lineitem.l_suppkey->supplier',
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)),
             (SELECT CAST(count(*) AS BIGINT) FROM supplier),
             (SELECT CAST(count(*) AS BIGINT) FROM supplier
              WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem))
           UNION ALL
           SELECT 'orders.o_custkey->customer',
             (SELECT CAST(count(*) AS BIGINT) FROM orders),
             (SELECT CAST(count(*) AS BIGINT) FROM orders
              WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
             (SELECT CAST(count(*) AS BIGINT) FROM customer),
             (SELECT CAST(count(*) AS BIGINT) FROM customer
              WHERE c_custkey NOT IN (SELECT o_custkey FROM orders))
           UNION ALL
           SELECT 'customer.c_nationkey->nation',
             (SELECT CAST(count(*) AS BIGINT) FROM customer),
             (SELECT CAST(count(*) AS BIGINT) FROM customer
              WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)),
             (SELECT CAST(count(*) AS BIGINT) FROM nation),
             (SELECT CAST(count(*) AS BIGINT) FROM nation
              WHERE n_nationkey NOT IN (SELECT c_nationkey FROM customer)))
         SELECT edge, n_child, orphan_rows,
                ${sqlPpm("orphan_rows", "n_child")} AS orphan_ppm,
                n_parent, unreferenced_parents,
                ${sqlPpm("unreferenced_parents", "n_parent")} AS unref_ppm
         FROM rows_u ORDER BY edge""")
  )
}
