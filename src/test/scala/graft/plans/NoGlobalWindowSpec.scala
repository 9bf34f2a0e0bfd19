package graft.plans

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale contract for the round-7 window rewrites (VERDICT r6 "What's wrong
  * #4"): `q_eng_lorenz`, `q_eng_skew_report`, `q_eng_rfm`, and
  * `q_text_vocab_coverage` rank keys-sized-but-UNBOUNDED tables, so none of
  * them may plan a `Window` with an empty partitionSpec (the
  * "WindowExec: No Partition Defined" single-task funnel). Two halves:
  *
  *  1. plan assertion — zero unpartitioned Window nodes in the optimized
  *     plan (StableIds segments run eagerly as RDD jobs, so any window THEY
  *     contained would have been removed at the source; this checks the
  *     declarative remainder);
  *  2. value equivalence — each rewrite reproduces the old global-window
  *     formulation bitwise at sf0.001, independent of the DuckDB gate.
  */
class NoGlobalWindowSpec extends SparkSpec {

  private val rewritten =
    Seq("q_eng_lorenz", "q_eng_skew_report", "q_eng_rfm", "q_text_vocab_coverage",
      // round-7 eval wave: rank-sum statistics over the unbounded
      // distinct-score domain go through StableIds.rankAndCumSums, and the
      // calibration deciles through StableIds.withRank — never a global window
      "q_eng_auc", "q_eng_ks_test", "q_eng_calibration",
      // round-8: arrival-order lateness ranks through StableIds.runningMaxes
      // (the oracle's max() OVER (ORDER BY ...) form exists only in DuckDB)
      "q_eng_event_lateness")
      // q_eng_theil_sen is NOT in this list: its median comes from a
      // driver-coordinated iterative range-refinement loop that runs
      // eagerly inside the query builder, so the returned DataFrame is a
      // 1-row literal — asserting on ITS plan would prove nothing. The
      // dedicated test below asserts on the memoized slopes table (the
      // only distributed plan the loop repeatedly scans) instead.

  for (q <- rewritten) test(s"$q: no unpartitioned window in the plan") {
    val df = SparkEntry.queries(q)(spark, sf)
    val bad = df.queryExecution.optimizedPlan.collect {
      case w: LogicalWindow if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty,
      s"$q plans ${bad.size} global-ORDER-BY window(s) — single-task at scale")
  }

  test("suite sweep: every unpartitioned window reads a post-aggregation " +
      "(bounded) input, never a raw file scan") {
    // VERDICT r13 "What's wrong #5": ~35 global-window sites remain in
    // query code, all over pre-aggregated day/month/bin-sized frames.
    // This pin closes the CLASS: for every declared query, any Window
    // with an empty partitionSpec must have an Aggregate somewhere below
    // it — or read only local/materialized inputs — so a raw corpus scan
    // can never flow into the single-task window funnel. The q_stream_exec_*
    // rows are excluded: they run real micro-batch machinery at
    // construction and their batch twins are swept here.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    def hasAgg(p: LogicalPlan): Boolean =
      p.collectFirst { case a: Aggregate => a }.isDefined
    // DSv2 sources (the gdelt-tsv connector) are file input too. LogicalRDD
    // is not: every localCheckpoint output is one, and its lineage is
    // opaque to this sweep.
    def hasFileScan(p: LogicalPlan): Boolean = p.collectFirst {
      case r @ (_: LogicalRelation | _: DataSourceV2ScanRelation) => r
    }.isDefined
    // Building a query must leave the session's planner and function
    // registry as it found them, so every later query and spec runs under
    // the certified config. ExpressionInfo compares by reference, so a
    // function replaced under the same name shows up too.
    val registry = spark.sessionState.functionRegistry
    def planner = (spark.experimental.extraOptimizations,
      spark.experimental.extraStrategies, spark.conf.getAll,
      registry.listFunction().map(f => f -> registry.lookupFunction(f)).toMap)
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("q_stream_exec_"))
      .flatMap { case (name, fn) =>
        val before = planner
        val plan = fn(spark, sf).queryExecution.optimizedPlan
        val after = planner
        val changed = Option.when(after != before)(
          s"$name: changes the session's planner (rules ${after._1}, " +
            s"strategies ${after._2}, conf ${after._3.toSet diff before._3.toSet}, " +
            s"functions ${(after._4.toSet diff before._4.toSet).map(_._1)})")
        changed.toSeq ++ plan.collect {
          case w: LogicalWindow
              if w.partitionSpec.isEmpty && !hasAgg(w.child) &&
                hasFileScan(w.child) =>
            s"$name: global window over un-aggregated file input"
        }
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("q_eng_theil_sen: slopes table (the plan its refinement loop scans) " +
      "has no unpartitioned window") {
    // running the query populates the (session, sf, "theil_sen_slopes")
    // memo; fetching the same key afterwards returns the identical cached
    // instance without invoking the build block
    SparkEntry.queries("q_eng_theil_sen")(spark, sf).collect()
    val slopes = graft.queries.QueryCaches.memo(spark, sf, "theil_sen_slopes") {
      fail("memo should already hold the slopes table")
    }
    val bad = slopes.queryExecution.optimizedPlan.collect {
      case w: LogicalWindow if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"slopes table plans ${bad.size} global window(s)")
  }

  test("q_eng_rfm quintiles match ntile(5) window semantics") {
    val cust = Tables.orders(spark, sf).groupBy(col("o_custkey"))
      .agg(datediff(to_date(lit("1996-01-01")),
        max(to_date(col("o_orderdate")))).cast("long").as("rec"),
        count(lit(1)).as("freq"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
    val r = ntile(5).over(Window.orderBy(col("rec"), col("o_custkey")))
    val f = ntile(5).over(Window.orderBy(col("freq").desc, col("o_custkey")))
    val m = ntile(5).over(Window.orderBy(col("cents").desc, col("o_custkey")))
    val oracle = cust.select(col("o_custkey"), col("cents"),
        r.cast("long").as("r_bin"), f.cast("long").as("f_bin"),
        m.cast("long").as("m_bin"))
      .groupBy("r_bin", "f_bin", "m_bin")
      .agg(count(lit(1)).as("n_customers"), sum("cents").as("cents"))
      .orderBy("r_bin", "f_bin", "m_bin")
    val got = SparkEntry.queries("q_eng_rfm")(spark, sf)
    assert(got.collect().toSeq == oracle.collect().toSeq)
  }

  test("q_eng_skew_report matches the row_number window formulation") {
    val counts = Tables.orders(spark, sf)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    val asc = Window.orderBy(col("cnt").asc, col("o_custkey").asc)
    val desc = Window.orderBy(col("cnt").desc, col("o_custkey").asc)
    import graft.functions.WideDiv.{mulDivWide, ppmWide, wide}
    val oracle = counts
      .withColumn("i", row_number().over(asc).cast("long"))
      .withColumn("r", row_number().over(desc).cast("long"))
      .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("total"),
        max(col("cnt")).as("max_cnt"),
        sum(when(col("r") <= 10, col("cnt")).otherwise(lit(0L))).as("top10"),
        sum(col("i") * col("cnt")).as("sic"))
      .select(col("n_keys"), col("total"), col("max_cnt"),
        ppmWide(col("top10"), col("total")).as("top10_share_ppm"),
        mulDivWide(
          wide(col("sic")) * lit(2L)
            - wide(col("n_keys") + lit(1L)) * wide(col("total")),
          lit(1000000L),
          wide(col("n_keys")) * wide(col("total"))).as("gini_ppm"))
    val got = SparkEntry.queries("q_eng_skew_report")(spark, sf)
    assert(got.collect().toSeq == oracle.collect().toSeq)
  }

  test("q_eng_lorenz matches the row_number window formulation") {
    import graft.functions.WideDiv.ppmWide
    val rev = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
    val n = rev.agg(count(lit(1)).as("nc"))
    val ranked = rev
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cents").desc, col("o_custkey"))).cast("long"))
      .crossJoin(broadcast(n))
      .withColumn("decile", expr("(rk - 1) * 10 DIV nc"))
    val perDecile = ranked.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("dc"))
    val tot = perDecile.agg(sum(col("dc")).as("tc"))
    val oracle = perDecile
      .withColumn("cum", sum(col("dc")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_customers"),
        ppmWide(col("cum"), col("tc")).as("cum_share_ppm"))
      .orderBy("decile")
    val got = SparkEntry.queries("q_eng_lorenz")(spark, sf)
    assert(got.collect().toSeq == oracle.collect().toSeq)
  }

  test("q_text_vocab_coverage matches the window formulation") {
    val got = SparkEntry.queries("q_text_vocab_coverage")(spark, sf).collect()
    // re-derive with the (small-data-safe) global window from raw docs
    import graft.functions.WideDiv.ppmWide
    val docs = Tables.documents(spark, sf)
    val toks = docs.select(
      posexplode(graft.text.TextFunctions.tokens(lower(col("text"))))
        .as(Seq("pos", "tok")))
    val cnts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("tok"))
    val tot = cnts.agg(sum(col("c")).as("t"))
    val oracle = cnts
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("tok"), col("c"),
        ppmWide(col("cum"), col("t")).as("coverage_ppm"))
      .orderBy("rank")
      .collect()
    // ranks and cumulative mass must agree row-for-row IF the tokenizer
    // matches; guard on comparable vocabulary first so a tokenizer drift
    // fails loudly instead of as a confusing zip mismatch
    assert(got.length == oracle.length,
      s"vocab size drift: engine ${got.length} vs window re-derivation ${oracle.length}")
    assert(got.toSeq == oracle.toSeq)
  }
}
