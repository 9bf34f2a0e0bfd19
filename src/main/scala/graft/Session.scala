package graft

import graft.util.{PartitionSizing, Scratch}
import org.apache.spark.sql.SparkSession

/** The certified session: the one Spark config Bench times, Verify dumps
  * for the oracle, Plans explains and the specs run under. A JVM property
  * of the same key (`-Dspark.sql.join.preferSortMergeJoin=true`) overrides
  * a table entry, so an A/B run needs no code change. */
object Session {

  /** The config table for `cpus` local threads over the fixture `sfDir`. */
  private def settings(cpus: Int, sfDir: String, warehouseDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // Fixture-scale split sizing: the test parquet is a handful of
    // single-digit-MB files, far below the 128 MB default split size,
    // so every scan would be one task and per-row-heavy projections
    // (tokenize, regex, md5 banks) would serialize. 512 KB splits give
    // the local 32 threads real scan parallelism wherever the file's
    // row-group layout allows it — the same splits-per-core tuning a
    // real cluster does, just at fixture scale.
    "spark.sql.files.maxPartitionBytes" -> "524288",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // bucketed-layout queries saveAsTable; keep the warehouse out of
    // the repo working tree; per-PID so two JVMs on the same fixture
    // never race on DROP + recursive delete of shared table dirs (the
    // discipline QueryCaches.memoDir's scratch dirs follow)
    "spark.sql.warehouse.dir" -> warehouseDir,
    // Shuffle-partition sizing across SFs (r11 verdict #2): a fixed 32
    // partitions makes each task's window/join buffer 10× bigger at the
    // 10× fixtures — at sf1mut that blew an 8 GB heap (heap OOM in
    // ExternalAppendOnlyUnsafeRowArray under 32 concurrent fat tasks).
    // With AQE on, shuffles START at ~one partition per input MB
    // (clamped to [cpus, 8×cpus]) and the runtime coalescer merges them
    // back to the advisory size wherever data is small — per-task
    // working sets stay bounded as the corpus grows. Scaling the
    // INITIAL count with the data, not a constant, matters both ways:
    // a flat 8×cpus was measured +9% median per-query at sf0.1 (and 3×
    // on the per-round BFS loops — 256 tasks of scheduling per tiny
    // iteration), while cpus alone OOMs sf1mut; size to the data, like
    // a cluster job sizes to its scan.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      PartitionSizing.initialPartitions(sfDir, cpus).toString,
    // Let AQE plan cached-table materialization (default off only for
    // output-partitioning compatibility): without it every QueryCaches
    // memo is stored with whatever partition count its build stage
    // happened to have (union of two 32-partition branches → 64 tiny
    // cached partitions), and every downstream scan pays the per-task
    // fixed cost × that count. With it, cached plans get the same
    // coalesce-to-advisory-size discipline as every other exchange —
    // guide §2.2 "fewer, larger partitions", applied to the cache.
    // Measured (opt r13): q_text_textrank task time 50.7 s → 1.9 s,
    // q_eng_modularity 59 s → 19 s, same results (oracle re-verified).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // Let the planner pick shuffled-hash join where its size conditions
    // hold (guide §3.1 and the §9 baseline config): sort-merge pays an
    // O(n log n) sort on BOTH sides per join; a shuffled-hash join
    // builds a hash table over the (size-checked) smaller per-partition
    // side and streams the other. Unlike a SHUFFLE_HASH hint this is
    // still planner-guarded — it only fires when one side is provably
    // much smaller and a partition fits the build budget, so it cannot
    // OOM-by-fiat at scale. Measured (opt r14, per-query stage A/B):
    // q_eng_waiting_supplier task time 10.4 s → 6.4 s, q_eng_triangles
    // 31.1 s → 26.7 s, mann_whitney/span_removal −10-15%, rest neutral;
    // oracle re-proved 347/347 under the flag.
    "spark.sql.join.preferSortMergeJoin" -> "false",
    // inert except on a join of two bucketed tables with different bucket
    // counts — only q_eng_bucketed_join_coalesce (orders@16 ⋈ lineitem@32)
    "spark.sql.bucketing.coalesceBucketsInJoin.enabled" -> "true",
    // graft_ SQL functions in this and every newSession() function registry
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    // reads parquet TIMESTAMP(NANOS) as epoch-nanos long (see Tables.events)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** Start (or join) the certified session at WARN logging. `tag` names
    * the per-PID warehouse, which is removed when the JVM exits. */
  def start(cpus: Int, sfDir: String, tag: String): SparkSession = {
    val warehouseDir = s"/tmp/graft_warehouse_${tag}_${ProcessHandle.current().pid()}"
    if (SparkSession.getDefaultSession.isEmpty)
      sys.addShutdownHook(Scratch.deleteRecursively(warehouseDir))
    val spark = settings(cpus, sfDir, warehouseDir)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) =>
        b.config(k, sys.props.getOrElse(k, v))
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
