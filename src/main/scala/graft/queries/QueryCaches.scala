package graft.queries

import graft.util.{PathTag, Scratch}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** The one build-once registry: every artifact built once per (session,
  * sfDir, key) and shared across queries — cached projections ([[memo]]),
  * scratch directories ([[memoDir]]), catalog tables and corpus counts
  * ([[once]]) — together with the action that releases it.
  *
  * Two problems this solves (both flagged in round-2 review):
  *
  *   1. Calling `.cache()` on a freshly-built identical plan per invocation
  *      makes CacheManager warn ("already cached") and leaves N cached
  *      copies' bookkeeping behind over a long session. Memoizing on
  *      (session, sfDir, key) returns the SAME value, so a suite run
  *      builds each shared artifact exactly once.
  *   2. Nothing ever released. [[clear]] runs every registered release
  *      action and is called by the suite runner after its queries — the
  *      cluster analogue of scoping persisted tables to the job that owns
  *      them.
  *
  * Entries are keyed on the session REFERENCE, not its identity hash: a
  * hash can recur after GC and hand a new session an artifact it never
  * built. Builds run under the registry's (reentrant) lock, so a key never
  * builds twice at once and a build may use other keys.
  */
object QueryCaches {

  /** A built artifact, its release action and the tick of its last use. */
  private final class Entry(val value: Any, val release: () => Unit, var touched: Long)

  private val reg = mutable.HashMap.empty[(SparkSession, String, String), Entry]
  // ledger key = (sfDir, key) to match reg's scope (ADVICE r9: keying by
  // memo key alone merged build times across SF dirs when one session
  // iterates gateSfs, as the multi-SF specs do)
  private val buildSecs = mutable.HashMap.empty[(String, String), Double]
  // seconds spent in the builds nested inside the running one, which
  // each land under their own key and not again under the outer one
  private var nestedSecs = 0.0

  // —— bounded-lifetime discipline (r11 verdict #2) ————————————————
  // Caching every memo for the whole suite put the sf1mut working set
  // (signature + postings + n-gram tables TOGETHER) past an 8 GB heap —
  // on a cluster that's executor storage, but the discipline is wrong at
  // any scale: a memo's useful life is the contiguous run of queries in
  // its family. Suite drivers (Bench/Verify) call [[tick]] after each
  // query and [[evictStale]] to release memos no query touched for the
  // last `maxAge` queries. A released memo that a later query needs is
  // simply rebuilt — during that query's UNTIMED warmup, so per-query
  // bench rows stay post-memo — and its rebuild seconds accumulate in
  // the shared-build ledger like the first build.
  private var clock = 0L

  /** Advance the suite clock — call once per completed query. */
  def tick(): Unit = synchronized { clock += 1 }

  private def drop(k: (SparkSession, String, String)): Unit =
    reg.remove(k).foreach(e => try e.release() catch { case _: Throwable => () })

  /** Release and forget every entry whose last touch is more than
    * `maxAge` ticks old. Returns the released keys (for ledgers). */
  def evictStale(maxAge: Int): Seq[String] = synchronized {
    val stale = reg.collect { case (k, e) if clock - e.touched > maxAge => k }.toSeq
    stale.foreach(drop)
    stale.map(_._3).sorted
  }

  // —— pressure valve (r12 verdict #4) ————————————————————————————
  // A fixed age bound is the fallback discipline; the signal a shared
  // cluster actually cares about is STORAGE-MEMORY pressure: when cached
  // blocks approach the storage pool's capacity, evicting our oldest
  // memos beats letting the block manager drop arbitrary blocks (it
  // evicts LRU *blocks*, stranding half-cached memos that then recompute
  // per partition instead of once).

  /** Fraction of executor storage memory in use, summed across the
    * cluster (local mode: the one block manager). 0.0 when the metric is
    * unavailable — the valve then simply never opens and the age bound
    * rules alone. */
  def storageUsedFraction(s: SparkSession): Double = {
    val st = s.sparkContext.getExecutorMemoryStatus.values
    val max = st.iterator.map(_._1).sum.toDouble
    val rem = st.iterator.map(_._2).sum.toDouble
    if (max <= 0) 0.0 else math.max(0.0, 1.0 - rem / max)
  }

  /** Live-heap fraction AFTER the last old-generation collection —
    * used/max of the tenured pool's collectionUsage, the JVM's own
    * "what actually survives GC" number. The storage metric alone
    * missed the r13 sf1mut crash mode: cached memos sat safely below
    * the storage high-water while EXECUTION buffers (window/join arrays
    * are heap, not storage-pool, in local mode) pushed the old gen over
    * the top — heap OOM with the valve closed. 0.0 when the pool or its
    * collection usage isn't exposed (then storage + age rules alone). */
  def heapAfterGcFraction(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.toLowerCase.contains("old"))
      .flatMap(p => Option(p.getCollectionUsage))
      .map(u => if (u.getMax > 0) u.getUsed.toDouble / u.getMax else 0.0)
      .foldLeft(0.0)(math.max)
  }

  /** Evict aggressively when memory pressure crosses 70 %: every memo
    * older than 3 ticks goes (the current family's newest memos survive,
    * so the running query keeps its working set). The production signal
    * is the WORSE of storage-pool use and live-heap after GC — either one
    * near the top means the next fat window/join task allocates into a
    * full heap. Returns the released keys; Nil when the valve stays
    * closed. `usedFraction` is injectable so specs can drive the pressure
    * path without actually filling memory. */
  def evictOnPressure(s: SparkSession,
      usedFraction: SparkSession => Double =
        sess => math.max(storageUsedFraction(sess), heapAfterGcFraction()))
      : Seq[String] =
    if (usedFraction(s) > 0.70) evictStale(3) else Nil

  /** The value built for (session, sfDir, key): `build` runs on first use
    * (and again after the entry is released); later calls return the same
    * value. Eviction and [[clear]] call `release` on it. The build's
    * seconds, less those of the builds nested in it, accumulate in
    * [[sharedBuilds]]. */
  def once[T](s: SparkSession, sfDir: String, key: String)(build: => T)
             (release: T => Unit): T = synchronized {
    reg.get((s, sfDir, key)) match {
      case Some(e) =>
        e.touched = clock
        e.value.asInstanceOf[T]
      case None =>
        val outer = nestedSecs
        nestedSecs = 0.0
        val t0 = System.nanoTime()
        var own = 0.0
        val v = try build finally {
          val dt = (System.nanoTime() - t0) / 1e9
          own = dt - nestedSecs
          nestedSecs = outer + dt
        }
        buildSecs((sfDir, key)) = buildSecs.getOrElse((sfDir, key), 0.0) + own
        reg((s, sfDir, key)) = new Entry(v, () => release(v), clock)
        v
    }
  }

  /** Memoized cached DataFrame: builds + caches on first use per
    * (session, sfDir, key), returns the identical instance afterwards.
    *
    * Materialization is forced (and timed) HERE, not left to the first
    * caller's action: per-query bench rows otherwise charge whichever
    * query first touches a shared table with its build cost (r8 verdict:
    * q_eng_bfs_hops 7.9 s standalone vs 2.9 s in-suite — pure attribution
    * artifact). The cost lands in [[sharedBuilds]], which Bench emits as
    * its own `shared_builds` ledger; per-query rows then measure post-memo
    * work only. Release unpersists. */
  def memo(s: SparkSession, sfDir: String, key: String)
          (build: => DataFrame): DataFrame =
    once(s, sfDir, key) {
      val df = build.cache()
      df.count() // populates the InMemoryRelation (all columns)
      df
    }(_.unpersist(false))

  /** Memoized scratch directory `/tmp/graft_<key>_<pid>_<sfDir tag>`:
    * emptied, then filled by `write(dir)` on first use; release (or a
    * failed write) removes it. The pid keeps two JVMs on one fixture (a
    * bench and a verify run side by side) off each other's files. */
  def memoDir(s: SparkSession, sfDir: String, key: String)
             (write: String => Unit): String =
    once(s, sfDir, key) {
      val dir = s"/tmp/graft_${key}_${ProcessHandle.current().pid()}_${PathTag.tag(sfDir)}"
      Scratch.deleteRecursively(dir)
      try write(dir) catch { case t: Throwable => Scratch.deleteRecursively(dir); throw t }
      dir
    }(Scratch.deleteRecursively)

  /** Seconds spent building each key since the last [[clear]] — the
    * shared-build ledger Bench commits alongside per-query rows.
    * Keys rendered as "key" when one SF dir is in play (the Bench case)
    * would collide across SFs, so the label is "key@sfLeaf". */
  def sharedBuilds: Map[String, Double] = synchronized {
    buildSecs.toMap.map { case ((sfDir, key), v) =>
      val leaf = sfDir.reverse.takeWhile(_ != '/').reverse
      s"$key@$leaf" -> v
    }
  }

  /** Release and forget every entry, and reset the ledger. */
  def clear(): Unit = synchronized {
    reg.keys.toSeq.foreach(drop)
    buildSecs.clear()
  }
}
