package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap

object Bench {
  /** Timed runs per query, after its one untimed warmup. */
  private val Runs = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val e2eStart = System.nanoTime()
    // local-iteration filter (unset, the whole suite is benched):
    // comma-separated query names to time after a targeted change
    // without paying the whole-suite wall clock
    val suite = new Suite("bench", sfDir,
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet))
    val spark = suite.spark
    // warm the session (codegen compiler, parquet reader, shuffle + window
    // machinery) with the flagship query on the smallest SF so the first
    // measured query doesn't absorb one-time SQL-engine initialization
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Self-labeling against machine contention: record the 1-minute
    // system load average as each query's timed runs finish, so a run
    // that shared the box with other work is distinguishable from a real
    // regression. A label is evidence, not a retry trigger: every row is
    // measured the same way whatever the load.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def loadAvg(): Double = osBean.getSystemLoadAverage // -1.0 if unsupported
    var loads = ListMap.empty[String, Double]
    val loadStart = loadAvg()
    var loadMax = loadStart
    def once(fn: Suite.Query): Double = {
      val t0 = System.nanoTime()
      // the noop sink evaluates EVERY output column of the exact plan
      // Verify certifies (a bare .count() lets Catalyst prune the output
      // projection, so wide-output queries benched on a narrower plan)
      // without charging disk I/O to the timing
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Kept statistic: timing noise on a shared box is additive —
    // contention, page-cache misses and JIT only ever inflate a run — so
    // the MIN of the timed runs is the tightest upper bound on the clean
    // time. The median of the same runs is recorded beside it.
    var results = ListMap.empty[String, Double]
    var medians = ListMap.empty[String, Double]
    // per-query: one untimed warmup (absorbs plan compilation + shared-cache
    // materialization), then `Runs` timed runs — single-iteration numbers
    // charged JIT/first-touch to whichever query ran first. A failing
    // query must surface as an error entry, never as a timing: the first
    // failing run (warmup or timed) ends the query and Suite records it.
    suite.run { (name, fn) =>
      once(fn)
      val times = suite.metered(name)(Seq.fill(Runs)(once(fn))).sorted
      val la = loadAvg()
      loads += (name -> la)
      if (la > loadMax) loadMax = la
      results += (name -> times.head)
      medians += (name -> times(Runs / 2))
    }
    val loadEnd = loadAvg()
    // shared-memo build ledger: memo materialization is timed inside
    // QueryCaches (forced at first touch, during some query's untimed
    // warmup), so per-query rows measure post-memo work only and the
    // build cost is attributed explicitly here instead of to whichever
    // query ran first.
    val sharedBuilds = graft.queries.QueryCaches.sharedBuilds
    val metrics = suite.close()
    val e2eWall = (System.nanoTime() - e2eStart) / 1e9
    val errors = suite.errors
    def num(v: Double): JValue =
      JDecimal(BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP))
    def nums(kv: Iterable[(String, Double)]): JObject =
      JObject(kv.map { case (k, v) => k -> num(v) }.toList)
    def json(fields: (String, JValue)*): String = compact(render(JObject(fields: _*)))
    val errorsJson = JObject(errors.map { case (k, v) => k -> JString(v) }.toList)
    val total = results.values.sum
    // A bounded tail capture of the output keeps only the last ~4 KB, and
    // the full per-query map alone exceeds that. So: full map first on a
    // line a {"metric" match skips, then a size-bounded parseable final
    // line — total + the 20 slowest queries + the suite count, ~800 B
    // regardless of suite growth.
    println(json("full_queries" -> nums(results), "errors" -> errorsJson,
      "sf" -> JString(sfDir)))
    // also persist the full map as a file artifact, for diffs of every
    // query between runs. The default path is deliberately not the
    // committed bench_full.json, so a routine run never overwrites it;
    // promoting a run is an explicit SPARK_GRAFT_BENCH_OUT=bench_full.json.
    val outFile =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full_latest.json")
    // Artifact schema: {full_queries, medians, stat, errors, load,
    // load_summary, shared_builds, memo_evicted, metrics, total, e2e_wall,
    // n_queries, failed, sf}. "full_queries" is each query's min of its
    // `Runs` timed runs ("stat"), "medians" their median; "load" is the
    // 1-min system load average sampled as each query's timed runs
    // finished, "load_summary" its start/end/max over the run;
    // "shared_builds" is the per-key build ledger (seconds, "key@sfLeaf")
    // of every QueryCaches entry — cached frames, the stream_in/
    // stream_exec/stream_append/gdelt_tsv scratch dirs, the bucketed/
    // bucketed32 tables and the doc_count/vec_count counts — so per-query
    // rows are post-memo only; "memo_evicted" lists the memo keys the
    // lifetime rule released; "metrics" holds each query's Spark work per
    // timed run (jobs, stages, tasks, task run/CPU/GC seconds, shuffle and
    // spill bytes), never the warmup; "e2e_wall" is the wall clock a user
    // pays for the whole run, from suite construction (session start) to
    // close, shared-memo builds and warmups included — "total" sums only
    // the rows.
    val loadSummary = Seq("start" -> loadStart, "end" -> loadEnd, "max" -> loadMax)
    val sorted = results.toSeq.sortBy(_._1)
    // a failed write is reported (path + error on stderr, non-zero exit
    // after the metric line) — a run must never look complete while its
    // artifact is missing or stale
    val writeError = try { Files.write(Paths.get(outFile), json(
      "full_queries" -> nums(sorted),
      "medians" -> nums(medians.toSeq.sortBy(_._1)),
      "stat" -> JString("min"),
      "errors" -> errorsJson,
      "load" -> nums(loads.toSeq.sortBy(_._1)),
      "load_summary" -> nums(loadSummary),
      "shared_builds" -> nums(sharedBuilds.toSeq.sortBy(_._1)),
      "memo_evicted" -> JArray(suite.evicted.map(JString).toList),
      "metrics" -> JObject(sorted.map { case (n, _) =>
        n -> nums(metrics(n).map { case (k, v) => k -> v / Runs })
      }.toList),
      "total" -> num(total),
      "e2e_wall" -> num(e2eWall),
      "n_queries" -> JInt(results.size),
      "failed" -> JInt(errors.size),
      "sf" -> JString(sfDir)).getBytes("UTF-8")); None }
    catch { case e: Throwable => Some(e) }
    writeError.foreach(e => System.err.println(
      s"BENCH: could not write ${new java.io.File(outFile).getAbsolutePath}: $e"))
    println(json("metric" -> JString("total"), "value" -> num(total),
      "unit" -> JString("sec"), "n_queries" -> JInt(results.size),
      "failed" -> JInt(errors.size),
      "load_summary" -> nums(loadSummary),
      "queries" -> nums(results.toSeq.sortBy(-_._2).take(20)),
      "sf" -> JString(sfDir)))
    // a non-zero failed count must be visible even if only the exit status
    // survives log truncation
    if (errors.nonEmpty) {
      System.err.println(s"BENCH: ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    }
    if (writeError.isDefined) sys.exit(1)
  }
}
