package graft.queries

import graft.SparkSpec

/** Bounded memo lifetime (r11 verdict #2): evictStale releases exactly the
  * memos no query touched within the age bound, touched memos survive, and
  * an evicted memo transparently rebuilds (accumulating shared-build time)
  * on next use. */
class QueryCachesEvictionSpec extends SparkSpec {

  test("evictStale releases stale memos, keeps touched ones, rebuilds on demand") {
    QueryCaches.clear()
    import spark.implicits._
    var builds = 0
    def memoA() = QueryCaches.memo(spark, "/tmp/evict_sf", "evict_a") {
      builds += 1; Seq(1, 2, 3).toDF("x")
    }
    def memoB() = QueryCaches.memo(spark, "/tmp/evict_sf", "evict_b") {
      Seq(4).toDF("y")
    }
    val a0 = memoA()
    memoB()
    assert(builds == 1)
    // age both past the bound, but keep touching B
    for (_ <- 1 to 6) { QueryCaches.tick(); memoB() }
    val released = QueryCaches.evictStale(maxAge = 5)
    assert(released == Seq("evict_a"), s"expected only evict_a, got $released")
    // A rebuilds (new instance, same values); B survived (same instance)
    val a1 = memoA()
    assert(builds == 2 && !(a1 eq a0))
    assert(a1.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(memoB() eq memoB())
    // the rebuild landed in the shared-build ledger alongside the first
    assert(QueryCaches.sharedBuilds.keys.exists(_.startsWith("evict_a@")))
    QueryCaches.clear()
  }

  test("pressure valve: high storage-water evicts aggressively, low water is a no-op") {
    // r12 verdict #4 — the memory-pressure path, driven via the
    // injectable reading (the production signal is one SparkContext
    // call, asserted sane below)
    QueryCaches.clear()
    import spark.implicits._
    var builds = 0
    def memoOld() = QueryCaches.memo(spark, "/tmp/press_sf", "press_old") {
      builds += 1; Seq(1).toDF("x")
    }
    def memoNew() = QueryCaches.memo(spark, "/tmp/press_sf", "press_new") {
      Seq(2).toDF("y")
    }
    memoOld()
    for (_ <- 1 to 5) { QueryCaches.tick(); memoNew() }
    // valve closed: nothing goes, however stale (NB: calling memoOld()
    // here would touch it and reset its age — assert via the ledger)
    assert(QueryCaches.evictOnPressure(spark, usedFraction = _ => 0.10) == Nil,
      "closed valve must not evict")
    // valve open: everything older than 3 ticks goes, the fresh memo
    // survives (the running family keeps its working set)
    val released = QueryCaches.evictOnPressure(spark, usedFraction = _ => 0.90)
    assert(released == Seq("press_old"), s"expected press_old, got $released")
    val n = memoNew(); assert(n eq memoNew(), "young memo must survive the valve")
    memoOld(); assert(builds == 2, "evicted memo rebuilds on demand")
    // both production readings are sane on a live JVM
    val f = QueryCaches.storageUsedFraction(spark)
    assert(f >= 0.0 && f <= 1.0, s"storage fraction out of range: $f")
    val h = QueryCaches.heapAfterGcFraction()
    assert(h >= 0.0 && h <= 1.0, s"heap-after-GC fraction out of range: $h")
    QueryCaches.clear()
  }

  /** A memoDir key whose builds are counted: writes one marker file. */
  private def dirMemo(sf: String, key: String, builds: Array[Int]): String =
    QueryCaches.memoDir(spark, sf, key) { dir =>
      builds(0) += 1
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "marker"),
        "x".getBytes)
    }

  private def exists(dir: String) =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "marker"))

  test("memoDir builds once per key, evictStale removes the dir, the next call rebuilds") {
    QueryCaches.clear()
    val builds = Array(0)
    val d0 = dirMemo("/tmp/dir_sf", "dir_a", builds)
    val d1 = dirMemo("/tmp/dir_sf", "dir_a", builds)
    assert(d0 == d1 && builds(0) == 1 && exists(d0))
    assert(d0.startsWith(s"/tmp/graft_dir_a_${ProcessHandle.current().pid()}_"))
    assert(QueryCaches.sharedBuilds.keySet.contains("dir_a@dir_sf"))
    for (_ <- 1 to 3) QueryCaches.tick()
    assert(QueryCaches.evictStale(maxAge = 2) == Seq("dir_a"))
    assert(!exists(d0), "an evicted memoDir must remove its directory")
    assert(dirMemo("/tmp/dir_sf", "dir_a", builds) == d0 && builds(0) == 2 &&
      exists(d0))
    QueryCaches.clear()
  }

  test("clear removes every memoDir directory and runs each once release; the next call rebuilds") {
    QueryCaches.clear()
    val builds = Array(0)
    var released = Seq.empty[Int]
    val d0 = dirMemo("/tmp/dir_sf", "dir_b", builds)
    assert(QueryCaches.once(spark, "/tmp/dir_sf", "once_b")(41)(v => released :+= v) == 41)
    assert(QueryCaches.once(spark, "/tmp/dir_sf", "once_b")(42)(v => released :+= v) == 41)
    QueryCaches.clear()
    assert(!exists(d0), "clear must remove the memoDir directory")
    assert(released == Seq(41), s"once release ran for $released")
    assert(QueryCaches.sharedBuilds.isEmpty)
    dirMemo("/tmp/dir_sf", "dir_b", builds)
    assert(builds(0) == 2 && exists(d0))
    assert(QueryCaches.sharedBuilds.keySet == Set("dir_b@dir_sf"))
    QueryCaches.clear()
  }

  test("a failed memoDir write leaves no directory, and the next call builds again") {
    QueryCaches.clear()
    var seen = ""
    intercept[IllegalStateException](QueryCaches.memoDir(spark, "/tmp/dir_sf", "dir_c") { dir =>
      seen = dir
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      throw new IllegalStateException("write failed")
    })
    assert(seen.nonEmpty && !java.nio.file.Files.exists(java.nio.file.Paths.get(seen)))
    val builds = Array(0)
    assert(dirMemo("/tmp/dir_sf", "dir_c", builds) == seen && builds(0) == 1)
    QueryCaches.clear()
  }

  test("a nested build's seconds land under its own key, not again under the outer one") {
    QueryCaches.clear()
    val inner = QueryCaches.once(spark, "/tmp/nest_sf", "outer") {
      val v = QueryCaches.once(spark, "/tmp/nest_sf", "inner") {
        Thread.sleep(300); 1
      }(_ => ())
      v + 1
    }(_ => ())
    assert(inner == 2)
    val b = QueryCaches.sharedBuilds
    assert(b("inner@nest_sf") >= 0.3, s"inner build seconds: $b")
    assert(b("outer@nest_sf") < 0.3, s"outer counted the inner build: $b")
    QueryCaches.clear()
  }
}
