package graft.queries

import graft.Tables
import graft.dsl.FilterDsl
import graft.sample.Samplers
import graft.sample.Samplers.SampleOrder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reference-parity operators (SURVEY.md §2) as driver-verifiable queries
  * over the harness `events` table (the GDELT-events stand-in,
  * FIXTURES.md §A: event_type ≈ QuadClass-style stratum, value ≈
  * GoldsteinScale-style range column).
  *
  * Conventions shared with the DuckDB oracles:
  *   - every computed column is aliased identically on both sides (the
  *     driver's hash-compare sorts columns by name);
  *   - every query ends in a deterministic ORDER BY on a unique key, so the
  *     comparison never depends on engine output order;
  *   - timestamps are projected as formatted strings (`ts_str`) — raw
  *     timestamp hash semantics differ across engines (UTC-instant vs naive).
  */
object ParityQueries {

  /** events output projection used by row-returning queries. */
  private def evOut(df: DataFrame): DataFrame =
    df.select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      col("props"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))

  private val evOutSql =
    "event_id, user_id, event_type, value, props, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str"

  private def ev(s: SparkSession, d: String): DataFrame = Tables.events(s, d)

  private def dsl(df: DataFrame, json: String) =
    df.where(FilterDsl.toColumn(json, df.columns.toSeq))

  // —— the DSv2 connector's own gate (round 13) ————————————————————
  // GdeltTsvSpec pins the connector's mechanics (pruning, splits, filter
  // pushdown, malformation parity); this memo gives it an ORACLE row
  // too: the events fixture is materialized as a daily-named GDELT TSV
  // archive (one `YYYYMMDD.export.CSV` per day — the reference's own
  // layout, scraper.py:128-168), and q_gdelt_tsv_scan reads it back
  // through `spark.read.format("gdelt-tsv")` with a pushed Day range, so
  // filename FILE pruning, line-aligned offset splits, parse-time column
  // pruning, and row-level pushdown all sit in a hash-gated path.
  private def gdeltTsv(s: SparkSession, d: String): String =
    QueryCaches.memoDir(s, d, "gdelt_tsv") { base =>
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // 58-column TSV line per event: the date-int columns derive from
      // ts exactly as the oracle's strftime does; unused columns empty
      val cols: Seq[org.apache.spark.sql.Column] =
        graft.schema.Gdelt.columns.map {
          case "GlobalEventID" => col("event_id").cast("string")
          case "Day"           => date_format(col("ts"), "yyyyMMdd")
          case "MonthYear"     => date_format(col("ts"), "yyyyMM")
          case "Year"          => date_format(col("ts"), "yyyy")
          case "Actor1Name"    => col("event_type")
          case "NumMentions"   => col("user_id").cast("string")
          case _               => lit("")
        }
      val staged = s"$base/staged"
      // one distributed pass: hash-repartition on the day so each day's
      // rows land in exactly one task → exactly one text file per
      // partition dir (required below); day count is ~30 per fixture
      ev(s, d)
        .select(date_format(col("ts"), "yyyyMMdd").as("day"),
          concat_ws("\t", cols: _*).as("value"))
        .repartition(col("day"))
        .write.partitionBy("day").text(staged)
      // driver-side rename to the archive naming the connector's file
      // pruning parses: day=YYYYMMDD/part-* → in/YYYYMMDD.export.CSV
      val inDir = new org.apache.hadoop.fs.Path(s"$base/in")
      fs.mkdirs(inDir)
      for (st <- fs.listStatus(new org.apache.hadoop.fs.Path(staged))
           if st.isDirectory && st.getPath.getName.startsWith("day=")) {
        val parts = fs.listStatus(st.getPath)
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        require(parts.length == 1,
          s"expected one file per day dir, got ${parts.length} in ${st.getPath}")
        fs.rename(parts.head.getPath, new org.apache.hadoop.fs.Path(inDir,
          s"${st.getPath.getName.stripPrefix("day=")}.export.CSV"))
      }
    } + "/in"

  val registry: Seq[Q] = Seq(
    // P5: scalar equality via the JSON DSL
    Q("q_filter_eq", (s, d) =>
      evOut(dsl(ev(s, d), """{"event_type": "click"}""")).orderBy("event_id"),
      s"""SELECT $evOutSql FROM events WHERE event_type = 'click' ORDER BY event_id"""),

    // P6: JSON array → IN-list (never a range)
    Q("q_filter_in", (s, d) =>
      evOut(dsl(ev(s, d), """{"event_type": ["purchase", "signup"]}"""))
        .orderBy("event_id"),
      s"""SELECT $evOutSql FROM events
          WHERE event_type IN ('purchase', 'signup') ORDER BY event_id"""),

    // P8: explicit between op
    Q("q_filter_between", (s, d) =>
      evOut(dsl(ev(s, d), """{"value": {"op": "between", "min": 10, "max": 20}}"""))
        .orderBy("event_id"),
      s"""SELECT $evOutSql FROM events
          WHERE value >= 10 AND value <= 20 ORDER BY event_id"""),

    // P8: gt + lt ops, implicit top-level AND
    Q("q_filter_gt_lt", (s, d) =>
      evOut(dsl(ev(s, d),
        """{"value": {"op": "gt", "value": 25}, "user_id": {"op": "lt", "value": 40}}"""))
        .orderBy("event_id"),
      s"""SELECT $evOutSql FROM events
          WHERE value > 25 AND user_id < 40 ORDER BY event_id"""),

    // P9: nested boolean composition (OR containing AND)
    Q("q_filter_bool", (s, d) =>
      evOut(dsl(ev(s, d),
        """{"OR": {"event_type": "signup",
                   "AND": {"event_type": "error", "value": {"op": "gt", "value": 90}}}}"""))
        .orderBy("event_id"),
      s"""SELECT $evOutSql FROM events
          WHERE event_type = 'signup' OR (event_type = 'error' AND value > 90)
          ORDER BY event_id"""),

    // P1/P2: column projection + canonical output reorder
    Q("q_project", (s, d) =>
      ev(s, d).select("event_id", "event_type", "value").orderBy("event_id"),
      "SELECT event_id, event_type, value FROM events ORDER BY event_id"),

    // P3: drop-NaN row filter over derived nullable columns (the fixture has
    // no physical nulls; nulls are derived in-plan, then na.drop applies the
    // reference's "any null in check-columns drops the row" semantics)
    Q("q_dropna", (s, d) =>
      ev(s, d)
        .withColumn("value_n", when(col("value") > 80, lit(null)).otherwise(col("value")))
        .withColumn("user_n", when(col("user_id") % 7 === 0, lit(null)).otherwise(col("user_id")))
        .na.drop("any", Seq("value_n", "user_n"))
        .select("event_id", "event_type", "value_n", "user_n")
        .orderBy("event_id"),
      """SELECT event_id, event_type,
                CASE WHEN value > 80 THEN NULL ELSE value END AS value_n,
                CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END AS user_n
         FROM events
         WHERE NOT (value > 80) AND NOT (user_id % 7 = 0)
         ORDER BY event_id"""),

    // S7: numeric coercion — cast failures become null, not errors. Spark 4
    // is ANSI-on by default, so the reference's `errors="coerce"` maps to
    // try_cast (plain cast would throw on 'error').
    Q("q_cast_coerce", (s, d) =>
      ev(s, d).select(
        col("event_id"),
        regexp_extract(col("props"), "[0-9]+", 0).try_cast("double").as("k_num"),
        col("event_type").try_cast("double").as("et_num"))
        .orderBy("event_id"),
      """SELECT event_id,
                TRY_CAST(regexp_extract(props, '[0-9]+') AS DOUBLE) AS k_num,
                TRY_CAST(event_type AS DOUBLE) AS et_num
         FROM events ORDER BY event_id"""),

    // R1 (deterministic surrogate): exact-n global sample as rank-by-key
    // top-n — identical TakeOrderedAndProject plan as the random path
    Q("q_sample_indexed", (s, d) =>
      evOut(Samplers.uniformExact(ev(s, d), 500,
        SampleOrder.By(Seq(col("event_id"))))),
      s"""SELECT $evOutSql FROM events ORDER BY event_id LIMIT 500"""),

    // R2 (deterministic surrogate): k=10 rows per day
    Q("q_sample_daily", (s, d) =>
      Samplers.daily(ev(s, d).withColumn("day", to_date(col("ts"))), col("day"),
        10, SampleOrder.By(Seq(col("event_id"))))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), date_format(col("day"), "yyyy-MM-dd").as("day_str"))
        .orderBy("event_id"),
      """SELECT event_id, user_id, event_type, value,
                strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day_str
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY CAST(ts AS DATE) ORDER BY event_id) AS rn
               FROM events)
         WHERE rn <= 10 ORDER BY event_id"""),

    // R5 (deterministic surrogate): exact-k per stratum with __NA__ sentinel
    // (stratum derived with nulls in-plan to exercise the sentinel path)
    Q("q_sample_stratified", (s, d) => {
      val e = ev(s, d).withColumn("stratum",
        Samplers.stratumKey(nullif(col("event_type"), lit("error"))))
      Samplers.perGroup(e, Seq(col("stratum")), 50,
        SampleOrder.By(Seq(col("event_id"))))
        .select("event_id", "user_id", "event_type", "stratum", "value")
        .orderBy("event_id")
    },
      """SELECT event_id, user_id, event_type, stratum, value
         FROM (SELECT *,
                 COALESCE(NULLIF(event_type, 'error'), '__NA__') AS stratum,
                 row_number() OVER
                   (PARTITION BY COALESCE(NULLIF(event_type, 'error'), '__NA__')
                    ORDER BY event_id) AS rn
               FROM events)
         WHERE rn <= 50 ORDER BY event_id"""),

    // Flagship (R3+R5): DSL filter → projection → stratified exact-k
    Q("q_sample_filtered_strat", (s, d) => {
      val filtered = dsl(ev(s, d),
        """{"value": {"op": "between", "min": 5, "max": 95},
            "event_type": ["click", "view", "signup"]}""")
      Samplers.stratified(filtered, col("event_type"), 25,
        SampleOrder.By(Seq(col("event_id"))))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    },
      """SELECT event_id, user_id, event_type, value
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY COALESCE(CAST(event_type AS VARCHAR), '__NA__')
                  ORDER BY event_id) AS rn
               FROM events
               WHERE value >= 5 AND value <= 95
                 AND event_type IN ('click', 'view', 'signup'))
         WHERE rn <= 25 ORDER BY event_id"""),

    // R5 random path: true hash-ordered stratified sample; the oracle checks
    // the exact-k invariant (k per stratum, all rows when group < k)
    Q("q_sample_rand_stratified_counts", (s, d) => {
      val sampled = Samplers.stratified(ev(s, d), col("event_type"), 100,
        SampleOrder.HashOf(42, Seq(col("event_id"))))
      sampled.groupBy(col("event_type").as("stratum")).agg(count(lit(1)).as("n"))
        .select("stratum", "n").orderBy("stratum")
    },
      """SELECT event_type AS stratum, LEAST(100, COUNT(*)) AS n
         FROM events GROUP BY event_type ORDER BY stratum"""),

    // R1 random path: exact-n, no duplicates (invariant oracle)
    Q("q_sample_rand_global_count", (s, d) => {
      val sampled = Samplers.uniformExact(ev(s, d), 1234,
        SampleOrder.HashOf(42, Seq(col("event_id"))))
      sampled.agg(count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("n_distinct"))
    },
      """SELECT LEAST(1234, COUNT(*)) AS n,
                LEAST(1234, COUNT(DISTINCT event_id)) AS n_distinct
         FROM events"""),

    // Weighted sample (A-ES priorities): invariant oracle — exact n from
    // the positive-weight population, no non-positive-weight rows sampled
    Q("q_sample_weighted_count", (s, d) => {
      val sampled = Samplers.weightedExact(ev(s, d), 500, col("value"), 42,
        Seq(col("event_id")))
      sampled.agg(count(lit(1)).as("n"),
        count(when(col("value") <= 0, 1)).as("n_nonpos"))
    },
      """SELECT LEAST(500, count(*) FILTER (value > 0)) AS n,
                CAST(0 AS BIGINT) AS n_nonpos
         FROM events"""),

    // mixture sampling: exact per-source targets (the dataset-mixing step
    // of a training recipe); targets deliberately include an under-sized
    // source (purchase: full take) and omitted sources (0 rows).
    // Invariant oracle: per-source size = least(target, source size).
    Q("q_sample_mix", (s, d) => {
      val sampled = Samplers.mixExact(ev(s, d), col("event_type"),
        Map("click" -> 400, "view" -> 150, "purchase" -> 5000),
        SampleOrder.HashOf(42, Seq(col("event_id"))))
      sampled.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("n_distinct"))
        .orderBy("event_type")
    },
      """WITH c AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY 1),
         t AS (SELECT event_type, cnt,
                 CASE event_type WHEN 'click' THEN 400 WHEN 'view' THEN 150
                      WHEN 'purchase' THEN 5000 ELSE 0 END AS tgt
               FROM c)
         SELECT event_type,
                CAST(least(cnt, tgt) AS BIGINT) AS n,
                CAST(least(cnt, tgt) AS BIGINT) AS n_distinct
         FROM t WHERE least(cnt, tgt) > 0 ORDER BY event_type"""),

    // exact-k per stratum, 50 smallest ids: Spark plans the rank window
    // with a partial WindowGroupLimit before the shuffle and a final one
    // after it; the full-row oracle checks every selected row
    Q("q_sample_topk_planned", (s, d) =>
      Samplers.perGroup(ev(s, d), Seq(col("event_type")), 50,
        SampleOrder.By(Seq(col("event_id"))))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id"),
      """SELECT event_id, user_id, event_type, value
         FROM (SELECT *, row_number() OVER
                 (PARTITION BY event_type ORDER BY event_id) AS rn
               FROM events)
         WHERE rn <= 50 ORDER BY event_id"""),

    // The DSv2 connector end-to-end (round 13): scan the generated
    // daily-named TSV archive through `gdelt-tsv` with a pushed 15-day
    // Day range — filename pruning drops ~half the files at planning
    // time, 64 KB offset splits engage on every kept file, parse-time
    // projection materializes 4 of 58 columns, and the pushed range
    // skips residual rows pre-InternalRow. The oracle recomputes the
    // aggregate from the events parquet alone (the TSV derivation is
    // deterministic: Day = strftime '%Y%m%d'), so equality proves the
    // whole source path — naming, pruning, splitting, parsing — is
    // lossless. Bounds derive from min(ts), not literals, so the row
    // gates unchanged at every SF.
    Q("q_gdelt_tsv_scan", (s, d) => {
      val dir = gdeltTsv(s, d)
      val r = ev(s, d).agg(
        date_format(date_add(min(to_date(col("ts"))), 7), "yyyyMMdd").as("lo"),
        date_format(date_add(min(to_date(col("ts"))), 21), "yyyyMMdd").as("hi"))
        .head()
      val (lo, hi) = (r.getString(0), r.getString(1))
      s.read.format("gdelt-tsv").option("maxSplitBytes", "65536").load(dir)
        .where(col("Day") >= lo && col("Day") <= hi)
        .groupBy(col("Day").as("day"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("GlobalEventID")).as("n_ids"),
          min(col("Actor1Name")).as("first_type"),
          max(col("NumMentions").cast("long")).as("max_user"))
        .orderBy("day")
    },
      // replays the TSV derivation from the events parquet alone: same
      // strftime day classification, same 15-day window off min(ts)
      """WITH b AS (SELECT CAST(min(ts) AS DATE) AS d0 FROM events),
            e AS (SELECT strftime(ts, '%Y%m%d') AS day, CAST(ts AS DATE) AS dt,
                         event_id, event_type, user_id
                  FROM events)
         SELECT day,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
                min(event_type) AS first_type,
                CAST(max(user_id) AS BIGINT) AS max_user
         FROM e, b
         WHERE e.dt >= b.d0 + 7 AND e.dt <= b.d0 + 21
         GROUP BY day ORDER BY day"""),

    // F2 in-plan: GDELT-style integer-date handling — YYYYMMDD ints parsed
    // to dates, month-end via last_day (the reference does this driver-side
    // on filenames; here it's the in-plan equivalent for Day/MonthYear
    // columns)
    Q("q_gdelt_dates", (s, d) =>
      ev(s, d)
        .select(col("event_id"),
          date_format(col("ts"), "yyyyMMdd").cast("long").as("day_int"))
        .withColumn("day_date", to_date(col("day_int").cast("string"), "yyyyMMdd"))
        .select(col("event_id"), col("day_int"),
          date_format(col("day_date"), "yyyy-MM-dd").as("day_str"),
          date_format(last_day(col("day_date")), "yyyy-MM-dd").as("month_end"))
        .orderBy("event_id"),
      """SELECT event_id,
                CAST(strftime(ts, '%Y%m%d') AS BIGINT) AS day_int,
                strftime(CAST(strptime(strftime(ts, '%Y%m%d'), '%Y%m%d') AS DATE),
                         '%Y-%m-%d') AS day_str,
                strftime(last_day(CAST(strptime(strftime(ts, '%Y%m%d'), '%Y%m%d') AS DATE)),
                         '%Y-%m-%d') AS month_end
         FROM events ORDER BY event_id"""),

    // R4 reservoir: exact-k per stratum by content-hash priority.
    // Invariant oracle — DuckDB has no xxhash64, so the per-stratum
    // exact-k counts are the checkable contract.
    Q("q_sample_reservoir_counts", (s, d) =>
      Samplers.perGroup(ev(s, d), Seq(col("event_type")), 100,
        SampleOrder.HashOf(42, Seq(col("event_id"))))
        .groupBy(col("event_type").as("stratum"))
        .agg(count(lit(1)).as("n"))
        .orderBy("stratum"),
      """SELECT event_type AS stratum, LEAST(100, COUNT(*)) AS n
         FROM events GROUP BY event_type ORDER BY stratum"""),

    // leakage-free GROUP-level train/val/test split: the md5 bucket is
    // computed on the GROUP key (customer), so every row of a group lands
    // in the same split — the discipline that keeps near-dup/same-entity
    // examples out of eval. Content-stable (survives repartitioning),
    // verified by counts per split
    Q("q_sample_group_split", (s, d) => {
      val b = graft.text.TextFunctions.splitBucket(col("o_custkey"))
      Tables.orders(s, d)
        .withColumn("split",
          when(b < 80, lit("train")).when(b < 90, lit("val")).otherwise(lit("test")))
        .groupBy("split")
        .agg(countDistinct(col("o_custkey")).as("n_groups"),
          count(lit(1)).as("n_rows"))
        .orderBy("split")
    },
      """WITH b AS (
           SELECT o_custkey,
                  CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4) AS BIGINT) % 100
                    AS bucket
           FROM orders)
         SELECT CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_groups,
                CAST(count(*) AS BIGINT) AS n_rows
         FROM b GROUP BY 1 ORDER BY split"""),

    // proportional-allocation stratified sampling: per-stratum quota =
    // floor(k·n_s/N) (min 1), selection in content-hash order — the
    // allocation policy between uniform-k (R5) and weighted (A-ES);
    // quotas broadcast, one rank window per stratum
    Q("q_sample_strat_proportional", (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type").as("stratum"), col("event_id"))
      val total = ev.count()
      val quotas = ev.groupBy("stratum").agg(count(lit(1)).as("ns"))
        .withColumn("quota",
          greatest(lit(1L), floor(col("ns") * 300.0 / total.toDouble)))
        .select("stratum", "quota")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("stratum")
        .orderBy(md5(col("event_id").cast("string")), col("event_id"))
      ev.withColumn("rn", row_number().over(w).cast("long"))
        .join(broadcast(quotas), "stratum")
        .where(col("rn") <= col("quota"))
        .select("stratum", "rn", "event_id")
        .orderBy("stratum", "rn")
    },
      """WITH ev AS (SELECT event_type AS stratum, event_id FROM events),
         t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM ev),
         q AS (SELECT stratum,
                      greatest(1, CAST(floor(count(*) * 300.0 / t.total) AS BIGINT))
                        AS quota
               FROM ev, t GROUP BY stratum, t.total),
         r AS (SELECT stratum, event_id,
                      CAST(row_number() OVER (PARTITION BY stratum
                        ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
                        AS BIGINT) AS rn
               FROM ev)
         SELECT r.stratum, rn, event_id
         FROM r JOIN q ON q.stratum = r.stratum
         WHERE rn <= quota ORDER BY r.stratum, rn"""),

    // systematic (every k-th) sampling over a distributed global rank —
    // the interval sampler on sorted data, without a single-partition
    // window (StableIds: range partition + per-partition offsets)
    // systematic PPS (Madow): n equally-spaced grid points over the
    // cumulative weight line, deterministic midpoint start — each unit's
    // inclusion count is a closed-form integer grid count, no RNG state.
    // Pairs with the HT estimator: pi_ppm is the EXACT inclusion
    // probability n·w/W. The cumulative window runs on the keys-sized
    // weight table (100 suppliers), safe by construction; the weight
    // aggregation is the only data-sized pass
    Q("q_sample_pps", (s, d) => {
      val n = 20L
      val wts = Tables.lineitem(s, d).groupBy(col("l_suppkey").as("supp"))
        .agg(sum(col("l_quantity").cast("long")).as("w"))
      val cum = wts.withColumn("cumw",
        sum(col("w")).over(Window.orderBy(col("supp"))))
      cum.crossJoin(broadcast(wts.agg(sum(col("w")).as("tw"))))
        .withColumn("prev", col("cumw") - col("w"))
        .withColumn("f_hi", expr(s"($n * cumw - (tw DIV 2) + tw - 1) DIV tw"))
        .withColumn("f_lo", expr(s"($n * prev - (tw DIV 2) + tw - 1) DIV tw"))
        .withColumn("n_hits", col("f_hi") - col("f_lo"))
        .where(col("n_hits") > 0)
        .select(col("supp"), col("w"), col("n_hits"),
          least(lit(1000000L), expr(s"$n * w * 1000000 DIV tw")).as("pi_ppm"))
        .orderBy("supp")
    },
      """WITH w AS (
           SELECT l_suppkey AS supp, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
           FROM lineitem GROUP BY 1),
         c AS (
           SELECT supp, w,
                  CAST(sum(w) OVER (ORDER BY supp) AS BIGINT) AS cumw
           FROM w),
         t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
         g AS (
           SELECT supp, w, cumw, cumw - w AS prev, tw,
                  (20 * cumw - (tw // 2) + tw - 1) // tw AS f_hi,
                  (20 * (cumw - w) - (tw // 2) + tw - 1) // tw AS f_lo
           FROM c, t)
         SELECT supp, w, CAST(f_hi - f_lo AS BIGINT) AS n_hits,
                CAST(least(1000000, 20 * w * 1000000 // tw) AS BIGINT) AS pi_ppm
         FROM g WHERE f_hi - f_lo > 0
         ORDER BY supp"""),

    Q("q_sample_systematic", (s, d) => {
      val ranked = graft.operators.StableIds.assignIds(
        Tables.events(s, d).select(col("event_id")),
        Seq(col("event_id")), idCol = "rk")
      ranked.where(col("rk") % 20 === 0)
        .select(col("event_id"), col("rk"))
        .orderBy("event_id")
    },
      """SELECT event_id, CAST(rn AS BIGINT) AS rk FROM (
           SELECT event_id, row_number() OVER (ORDER BY event_id) - 1 AS rn
           FROM events)
         WHERE rn % 20 = 0 ORDER BY event_id"""),

    // Bernoulli sampling via the content hash: keep a row iff its
    // md5-derived ppm draw clears the rate — a PURE MAP (no ranks, no
    // shuffle, no coordination), the only sampler shape that stays
    // embarrassingly parallel at any scale; reproducible because the
    // coin is the row's own content, and composable (two rates nest).
    // 10% of events; exact integer threshold on the 52-bit hash
    Q("q_sample_bernoulli", (s, d) =>
      Tables.events(s, d)
        .where(conv(substring(md5(col("event_id").cast("string")), 1, 13),
          16, 10).cast("long") % 1000000L < 100000L)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id"),
      """SELECT event_id, user_id, event_type
         FROM events
         WHERE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13)
                 AS BIGINT) % 1000000 < 100000
         ORDER BY event_id"""),

    // poissonized bootstrap: each row draws its replicate count from
    // Poisson(1) via the inverse CDF on an md5-derived uniform — a pure
    // map (no resampling shuffle), so at 100 TB a bootstrap replicate is
    // a per-row weight, not a data copy. Integer ppm thresholds keep the
    // draw exact across engines; the output audits the draw distribution
    // (should be ≈ Poisson(1)) with the exact per-count event mass
    Q("q_sample_bootstrap", (s, d) => {
      // P(X<=k) for Poisson(1), in ppm: k = #thresholds at or below u
      val cdfPpm = Seq(367879L, 735758L, 919698L, 981011L, 996340L,
        999405L, 999916L)
      val u = conv(substring(md5(concat(lit("bs:"),
        col("event_id").cast("string"))), 1, 15), 16, 10).cast("long") % 1000000L
      val k = cdfPpm.map(t => when(u >= t, lit(1L)).otherwise(lit(0L)))
        .reduce(_ + _)
      Tables.events(s, d)
        .select(col("event_id"), col("value"), k.as("n_replicates"))
        .groupBy("n_replicates")
        .agg(count(lit(1)).as("n_rows"),
          graft.functions.WideDiv.decSumToDouble(
            sum(col("value").cast("decimal(18,6)"))).as("sum_value"))
        .orderBy("n_replicates")
    },
      """WITH u AS (
           SELECT event_id, value,
                  CAST('0x' || substr(md5('bs:' || CAST(event_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 1000000 AS u
           FROM events),
         k AS (SELECT value,
                      CASE WHEN u >= 367879 THEN 1 ELSE 0 END
                    + CASE WHEN u >= 735758 THEN 1 ELSE 0 END
                    + CASE WHEN u >= 919698 THEN 1 ELSE 0 END
                    + CASE WHEN u >= 981011 THEN 1 ELSE 0 END
                    + CASE WHEN u >= 996340 THEN 1 ELSE 0 END
                    + CASE WHEN u >= 999405 THEN 1 ELSE 0 END
                    + CASE WHEN u >= 999916 THEN 1 ELSE 0 END AS n_replicates
               FROM u)
         SELECT CAST(n_replicates AS BIGINT) AS n_replicates,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000
                       AS DECIMAL(38,0)) AS DOUBLE) / 1000000.0 AS sum_value
         FROM k GROUP BY 1 ORDER BY n_replicates"""),

    // variance-weighted stratified allocation: per-stratum exact integer
    // variance numerator n·Σx² − (Σx)² from one mergeable moment pass
    // (value quantized to exact centi), allocation of k=300 proportional
    // to n-normalized variance with largest-remainder rounding — all
    // integer, the allocation table is strata-sized (broadcastable at
    // any corpus scale)
    Q("q_sample_var_alloc", (s, d) => {
      val st = Tables.events(s, d)
        .select(col("event_type").as("stratum"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("x"))
        .groupBy("stratum")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("w", call_function("div",
          col("n") * col("sxx") - col("sx") * col("sx"), col("n")))
      val alloc = st
        .crossJoin(broadcast(st.agg(sum(col("w")).as("tw"))))
        .withColumn("base", call_function("div", col("w") * 300L, col("tw")))
        .withColumn("rem", (col("w") * 300L) % col("tw"))
      val wd = org.apache.spark.sql.expressions.Window
        .orderBy(col("rem").desc, col("stratum"))
      alloc
        .withColumn("rk", row_number().over(wd).cast("long"))
        .crossJoin(broadcast(
          alloc.agg((lit(300L) - sum(col("base"))).as("leftover"))))
        .withColumn("alloc",
          col("base") + when(col("rk") <= col("leftover"), lit(1L))
            .otherwise(lit(0L)))
        .select(col("stratum"), col("n"), col("w"), col("alloc"))
        .orderBy("stratum")
    },
      """WITH e AS (SELECT event_type AS stratum,
                           CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
                    FROM events),
         st AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS sx,
                       CAST(sum(x * x) AS BIGINT) AS sxx
                FROM e GROUP BY 1),
         v AS (SELECT stratum, n, (n * sxx - sx * sx) // n AS w FROM st),
         t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM v),
         a AS (SELECT stratum, n, w, (w * 300) // t.tw AS base,
                      (w * 300) % t.tw AS rem
               FROM v, t),
         l AS (SELECT CAST(300 - sum(base) AS BIGINT) AS leftover FROM a),
         r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, stratum) AS rk
               FROM a)
         SELECT stratum, n, w,
                base + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END AS alloc
         FROM r, l ORDER BY stratum"""),

    // deterministic group-safe k-fold assignment (cross-validation twin of
    // q_sample_group_split): fold = md5-bucket(custkey) mod 5, so every
    // row of a customer lands in ONE fold — no leakage across folds — and
    // the assignment is content-stable (survives repartitioning, no RNG
    // state). One map-side expression + one count shuffle.
    Q("q_sample_kfold", (s, d) =>
      Tables.orders(s, d)
        .withColumn("fold",
          pmod(graft.text.TextFunctions.splitBucket(col("o_custkey")), lit(5L)))
        .groupBy("fold")
        .agg(countDistinct(col("o_custkey")).as("n_groups"),
          count(lit(1)).as("n_rows"))
        .orderBy("fold"),
      """WITH b AS (
           SELECT o_custkey,
                  (CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4)
                     AS BIGINT) % 100) % 5 AS fold
           FROM orders)
         SELECT fold, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_groups,
                CAST(count(*) AS BIGINT) AS n_rows
         FROM b GROUP BY 1 ORDER BY fold"""),

    // two-stage cluster sampling (the survey-sampling design for corpora
    // too big to frame-sample directly): stage 1 draws 3 of the ~10
    // sources in content-hash order (a sources-sized TakeOrdered — the
    // PSU draw), stage 2 draws exact-5 docs per selected source, again in
    // content-hash order (per-source window, deterministic and
    // partition-layout independent — the SampleOrder.HashOf contract).
    // At 100 TB the stage-1 frame is the tiny dimension (sources/shards),
    // so the expensive corpus scan only ever touches selected clusters.
    Q("q_sample_two_stage", (s, d) => {
      val docs = Tables.documents(s, d)
      val picked = docs.select(col("source")).distinct()
        .orderBy(md5(col("source")), col("source")).limit(3)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      docs.join(broadcast(picked), Seq("source"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 5)
        .select(col("source"), col("rn"), col("doc_id"))
        .orderBy("source", "rn")
    },
      """WITH picked AS (
           SELECT source FROM (SELECT DISTINCT source FROM documents)
           ORDER BY md5(source), source LIMIT 3),
         r AS (
           SELECT d.source, d.doc_id,
                  CAST(row_number() OVER (PARTITION BY d.source
                    ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
                    AS BIGINT) AS rn
           FROM documents d JOIN picked USING (source))
         SELECT source, rn, doc_id FROM r WHERE rn <= 5
         ORDER BY source, rn""")
  )

  /** This file's bodies by name, for callers that run one parity query
    * without loading every other query file. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Q.index(registry).map { case (n, q) => n -> q.build }
}
