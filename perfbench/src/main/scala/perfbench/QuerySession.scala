package perfbench

import graft.SparkEntry
import graft.queries.QueryCaches
import org.apache.spark.sql.SparkSession

/** query_session: an analyst session over the registry, in two parts.
  *
  *  1. First-use part, timed: memo caches cleared, then each query once in
  *     `ColdOrder`, its output written in graft.Verify's dump layout for
  *     the oracle compare, with the tick / evictOnPressure / evictStale
  *     calls graft.Bench and graft.Verify make after every query, at a memo
  *     age bound shorter than the distance between two queries that share
  *     a memo. It pays first-run JIT and codegen, memo builds, evictions
  *     and rebuilds. Once per session: the JIT and codegen part cannot be
  *     made cold again in the same JVM.
  *  2. Warm passes, timed, after one untimed warm-up run of each query: the
  *     same queries in seeded order through graft.Bench's noop sink, at
  *     graft.Bench's memo age rule for a fixture this small (nothing
  *     evicted). Every memo the queries use is live
  *     after part 1, so the time is planning, job dispatch and task
  *     overhead: the per-query fixed-cost floor, and the memo layer only
  *     answers lookups.
  *
  * The query set is fixed: for each of the dedup, text and eng families
  * two memo consumers that share one memo key, and one memo-free query
  * each of the sim, mm, sample and stream families. Each finishes in under
  * a second once warm, as half the registry does, and in a few seconds
  * memo-cold; the sim and mm memo consumers (k-means, sign-LSH and pHash
  * tables) cost 2.5-10 s each memo-cold, more than a run can hold. A
  * seeded draw of a few queries out of ~340 would make latency depend on
  * which queries were drawn; the seed orders the warm passes. */
object QuerySession {
  val Families = Seq("eng", "text", "dedup", "sim", "sample", "mm", "stream")

  /** For the dedup, text and eng families, the query that first builds a
    * memo and a later one that reuses it (the memo key in the comment). */
  val MemoPairs = Seq(
    "q_dedup_minhash_lsh" -> "q_dedup_split_leakage",  // minhash_pairs
    "q_text_neg_sampling" -> "q_text_phrase",          // text_postings
    "q_eng_kappa" -> "q_eng_cohens_d")                 // eval_scored
  val NoMemo = Seq("q_sim_normalize", "q_mm_resize_meta",
    "q_sample_stratified", "q_stream_upsert_latest")

  /** Memo-cold order: every first user, the memo-free queries, then every
    * reuser, so each memo is reused 7 queries after it was built. */
  val ColdOrder: Seq[String] = MemoPairs.map(_._1) ++ NoMemo ++
    MemoPairs.map(_._2)

  /** Memo age bound of the first-use part, in queries: shorter than the
    * reuse distance of 7, so every shared memo is evicted and rebuilt.
    * graft.Bench ages memos out after 25 of ~340 queries on fixtures big
    * enough to need it. */
  val ColdMemoAge = 3

  /** Warm passes per 10 s of `--seconds`. */
  val WarmPasses = 3

  def family(q: String): String = {
    val f = q.split('_')(1)
    if (Families.contains(f)) f else "other"
  }

  /** The memo calls graft.Bench and graft.Verify make after every query;
    * returns the number of memos evicted. */
  def afterQuery(spark: SparkSession, maxAge: Int): Int = {
    QueryCaches.tick()
    QueryCaches.evictOnPressure(spark).size + QueryCaches.evictStale(maxAge).size
  }

  /** One timed execution: the registry call (build phase: plan
    * construction plus any eager jobs and memo lookups inside it), then
    * the sink (exec phase): the output dump on first use, afterwards the
    * noop sink graft.Bench uses. */
  def timedRun(c: Ctx, q: String, pass: Int, cold: Boolean, traced: Boolean,
               memo: MemoLedger): Unit = {
    c.res.attempted += 1
    val t0 = System.nanoTime()
    c.tracer.span(q, "op") { s =>
      s.attrs("pass") = pass; s.attrs("traced") = if (traced) 1 else 0
      s.attrs("cold") = if (cold) 1 else 0
      try {
        val df = c.tracer.span("build", "phase")(_ =>
          SparkEntry.queries(q)(c.spark, c.fixture))
        c.tracer.span("exec", "phase") { _ =>
          if (cold) {
            df.coalesce(1).write.mode("overwrite").parquet(s"${c.out}/dump/$q")
            c.res.dumps += q
          } else df.write.mode("overwrite").format("noop").save()
        }
      } catch { case t: Throwable =>
        c.res.check(s"$q runs", ok = false,
          s"${t.getClass.getSimpleName}: " +
            Option(t.getMessage).getOrElse("").take(300))
      }
      val (builds, rebuilds, secs) = memo.delta()
      s.attrs("memo_builds") = builds
      s.attrs("memo_rebuilds") = rebuilds
      s.attrs("memo_build_s") = secs
    }
    c.res.timed += Timed(q, family(q), (System.nanoTime() - t0) / 1e9, pass,
      traced, cold)
  }

  def run(c: Ctx): Unit = {
    val qs = ColdOrder
    QueryCaches.clear()
    val coldMemo = new MemoLedger
    c.tracer.setEngine(c.trace)
    var evictions = 0
    val t0 = System.nanoTime()
    val cpu0 = Main.cpuS()
    c.tracer.span("query_session.cold", "workload") { _ =>
      for (q <- qs) {
        timedRun(c, q, 0, cold = true, c.trace, coldMemo)
        evictions += afterQuery(c.spark, ColdMemoAge)
      }
    }
    c.res.passes += Pass(0, (System.nanoTime() - t0) / 1e9, qs.size, c.trace,
      cold = true, Main.cpuS() - cpu0)
    c.tracer.setEngine(false)
    c.heap()
    val rebuilds = c.tracer.spans.filter(s => s.kind == "op" &&
      s.attrs.get("cold").contains(1.0)).map(_.attrs("memo_rebuilds")).sum
    c.res.add("memo.evictions", evictions)
    c.res.check("first-use part evicts memos", evictions > 0,
      s"$evictions evictions")
    c.res.check("first-use part rebuilds evicted memos", rebuilds > 0,
      s"$rebuilds rebuilds")
    val sql = SparkEntry.oracleSql
    Json.write(s"${c.out}/dump/oracle_sql.json", org.json4s.JObject(
      c.res.dumps.toList.flatMap(q =>
        sql.get(q).map(q -> org.json4s.JString(_)))))

    // graft.Bench's memo age rule: the whole memo union fits unless the
    // fixture is big enough to need partition scaling
    val age =
      if (graft.util.PartitionSizing.initialPartitions(c.fixture, c.cpus) >
          c.cpus) 25
      else Int.MaxValue / 2
    // one untimed warm-up run of each query, as graft.Bench gives every
    // query before timing it
    for (q <- qs) {
      SparkEntry.queries(q)(c.spark, c.fixture).write.mode("overwrite")
        .format("noop").save()
      afterQuery(c.spark, age)
    }
    val memo = new MemoLedger
    // warm passes: traced runs alternate untraced and traced passes, so the
    // trace's overhead is the difference between the two kinds of pass
    val rnd = new scala.util.Random(c.seed)
    for (pass <- 1 to c.reps(WarmPasses)) {
      val traced = c.trace && pass % 2 == 0
      c.tracer.setEngine(traced)
      val p0 = System.nanoTime()
      val cpu0 = Main.cpuS()
      c.tracer.span("query_session.warm", "workload") { _ =>
        for (q <- rnd.shuffle(qs)) {
          timedRun(c, q, pass, cold = false, traced, memo)
          afterQuery(c.spark, age)
        }
      }
      c.res.passes += Pass(pass, (System.nanoTime() - p0) / 1e9, qs.size,
        traced, cold = false, Main.cpuS() - cpu0)
      c.tracer.setEngine(false)
      c.heap()
    }
    val warmBuilds = c.tracer.spans.filter(s => s.kind == "op" &&
      s.attrs.get("cold").contains(0.0)).map(_.attrs("memo_builds")).sum
    c.res.check("no memo builds in warm passes", warmBuilds == 0,
      s"$warmBuilds builds")
    QueryCaches.clear()
  }
}
