package graft

import graft.queries.QueryCaches
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** The one suite runner behind Bench, Verify and Plans: the certified
  * [[Session]] on `$SPARK_GRAFT_CPUS` threads (default 4), every
  * registered query (or those in `only`) in name order, per-query error
  * capture, the memo lifetime rule after each query, and per-query Spark
  * metrics for the work run under [[metered]]. */
final class Suite(tool: String, sfDir: String, only: Option[Set[String]]) {
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  val spark: SparkSession = Session.start(cpus, sfDir, tool)

  // SORTED execution order, not Map order: the memo-lifetime discipline
  // (tick/evictStale/evictOnPressure) assumes a family's queries run
  // contiguously so its shared caches age out together. HashMap order
  // is arbitrary and reshuffles whenever the key set changes — the r13
  // sf1mut 8 GB OOM was exactly this: the tail interleaved q_sim_* and
  // q_dedup_* queries, each touch kept the OTHER family's heavyweight
  // memos young, and two families' caches stayed resident at once.
  // Name order clusters families by prefix and is stable across rounds.
  val queries: Seq[(String, Suite.Query)] = SparkEntry.queries.toSeq.sortBy(_._1)
    .filter { case (name, _) => only.forall(_.contains(name)) }

  /** Query name → error, for each query whose body threw. */
  val errors = mutable.LinkedHashMap.empty[String, String]

  /** Memo keys released after each query, in order (a rebuilt memo that
    * ages out again repeats) — the working-set ledger. */
  val evicted = mutable.ArrayBuffer.empty[String]

  // Memo lifetime bound (r11 verdict #2): after each query, age the
  // shared-memo registry and release memos no query touched for the
  // last `memoAge` queries — the whole-suite union of cached memos
  // (signatures + postings + n-grams + pair tables) does not fit an
  // 8 GB heap at sf1mut, and nothing needs it to: family reuse is
  // temporally local in suite order. An evicted memo a later query
  // still wants is rebuilt during that query's UNTIMED warmup (timed
  // rows stay post-memo); rebuild seconds accumulate in shared_builds.
  // The valve opens on the SAME data-size signal as partition sizing
  // (the session's initial shuffle partitions, so a `-D` override moves
  // both): when the fixture is small enough that the count clamps to
  // cpus, the whole memo union fits a default heap (the r11 sf0.1 pair
  // proved it at 212 s) and eviction would only pay rebuilds — so the
  // age bound engages only past that size.
  private val memoAge =
    if (spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
        .toInt > cpus) 25
    else Int.MaxValue / 2

  private val meter = new Suite.Meter
  spark.sparkContext.addSparkListener(meter)

  /** Run `body` on each query; a throw is recorded in [[errors]] and the
    * suite moves on. */
  def run(body: (String, Suite.Query) => Unit): Unit =
    for (((name, fn), i) <- queries.zipWithIndex) {
      // progress line BEFORE the query runs: when a run dies mid-suite
      // (OOM, kill), the log names the query that was executing — the
      // r13 sf1mut OOM was undiagnosable without this
      System.err.println(s"[$tool] ${i + 1}/${queries.size} $name")
      try body(name, fn) catch { case t: Throwable =>
        errors(name) =
          s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(300)}"
        System.err.println(s"[$tool] $name failed: ${errors(name)}")
      }
      QueryCaches.tick()
      // pressure valve first (storage-memory high-water → aggressive
      // age-0-ish eviction), fixed age bound as the fallback
      evicted ++= QueryCaches.evictOnPressure(spark)
      evicted ++= QueryCaches.evictStale(memoAge)
    }

  /** Run `body` with its Spark jobs counted toward `name`'s metrics. */
  def metered[T](name: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(name, name)
    try body finally spark.sparkContext.clearJobGroup()
  }

  /** Release the memos, scratch dirs and tables, and stop the session.
    * Returns the summed metrics of each name's [[metered]] work, zeros for
    * a name never metered; stopping drains the listener bus first, so no
    * event is missing. */
  def close(): Map[String, Seq[(String, Double)]] = {
    QueryCaches.clear()
    spark.stop()
    meter.sums.view.mapValues(_.toSeq).toMap
      .withDefaultValue(Suite.MetricNames.map(_ -> 0.0))
  }
}

object Suite {
  type Query = (SparkSession, String) => DataFrame

  private val MetricNames: Seq[String] = Seq("jobs", "stages", "tasks", "task_run_s",
    "task_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes")

  /** Sums the jobs and completed stages of each job group. A stage counts
    * toward the group of the first job that lists it. */
  private final class Meter extends SparkListener {
    val sums = mutable.HashMap.empty[String, mutable.LinkedHashMap[String, Double]]
    private val stageGroup = mutable.HashMap.empty[Int, String]

    private def add(group: String, kv: (String, Double)*): Unit = {
      val m = sums.getOrElseUpdate(group,
        mutable.LinkedHashMap(MetricNames.map(_ -> 0.0): _*))
      kv.foreach { case (k, v) => m(k) += v }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          add(g, "jobs" -> 1.0)
          e.stageIds.foreach(stageGroup.getOrElseUpdate(_, g))
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageGroup.get(e.stageInfo.stageId).foreach { g =>
        val t = e.stageInfo.taskMetrics
        add(g, "stages" -> 1.0, "tasks" -> e.stageInfo.numTasks.toDouble,
          "task_run_s" -> t.executorRunTime / 1e3,
          "task_cpu_s" -> t.executorCpuTime / 1e9,
          "gc_s" -> t.jvmGCTime / 1e3,
          "shuffle_read_bytes" -> t.shuffleReadMetrics.totalBytesRead.toDouble,
          "shuffle_write_bytes" -> t.shuffleWriteMetrics.bytesWritten.toDouble,
          "spill_bytes" -> (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble)
      }
  }
}
