package graft.util

import graft.{SparkSpec, TempDirs}
import graft.etl.Versioned
import graft.streaming.Upsert
import org.apache.hadoop.fs.Path

/** Failure injection for the atomic-swap family: simulate a crash at each
  * rename/flip boundary by performing exactly the operations the code
  * would have completed before dying, then assert (a) no read ever sees a
  * torn state and (b) recovery + the next writer resume correctly. The
  * exactly-once claims of the upsert/versioning sinks rest on these
  * boundaries.
  */
class SwapFailureSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def fs = new Path("/tmp").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def writeTable(path: String, rows: Seq[(Long, String)]): Unit =
    rows.toDF("k", "v").write.mode("overwrite").parquet(path)

  private def readKeys(path: String): Seq[Long] =
    spark.read.parquet(path).select("k").as[Long].collect().toSeq.sorted

  // ---- Fs.swapInto ----

  test("swapInto crash between rename-out and rename-in: recover restores the original, re-swap completes") {
    val root = tempDir("graft_swap1")
    val cur = new Path(s"$root/table")
    val tmp = new Path(s"$root/table.tmp")
    val old = new Path(cur.toString + ".old")
    writeTable(cur.toString, Seq((1L, "old")))
    writeTable(tmp.toString, Seq((2L, "new")))
    // crash point: swapInto completed `cur -> .old` then died
    fs.rename(cur, old)
    assert(!fs.exists(cur) && fs.exists(old) && fs.exists(tmp))
    // recovery restores the ORIGINAL table — a reader never sees a gap
    Fs.recover(fs, cur)
    assert(readKeys(cur.toString) == Seq(1L))
    assert(fs.exists(tmp), "staged data must survive recovery")
    // the retried swap then lands the staged data
    Fs.swapInto(fs, tmp, cur)
    assert(readKeys(cur.toString) == Seq(2L))
    assert(!fs.exists(old) && !fs.exists(tmp))
  }

  test("swapInto crash between rename-in and .old cleanup: new data is live, stale .old is cleaned by the next swap") {
    val root = tempDir("graft_swap2")
    val cur = new Path(s"$root/table")
    val old = new Path(cur.toString + ".old")
    writeTable(cur.toString, Seq((1L, "old")))
    val tmp = new Path(s"$root/table.tmp")
    writeTable(tmp.toString, Seq((2L, "new")))
    // crash point: both renames done, delete(.old) not reached
    fs.rename(cur, old)
    fs.rename(tmp, cur)
    // reads already see the new data; recovery must NOT touch it
    Fs.recover(fs, cur)
    assert(readKeys(cur.toString) == Seq(2L))
    // the next swap tolerates and replaces the stale .old
    val tmp2 = new Path(s"$root/table.tmp")
    writeTable(tmp2.toString, Seq((3L, "newer")))
    Fs.swapInto(fs, tmp2, cur)
    assert(readKeys(cur.toString) == Seq(3L))
    assert(!fs.exists(old))
  }

  // ---- Versioned.commit pointer flip ----

  test("commit crash after data write, before pointer flip: readers stay on the previous version, recommit resumes") {
    val root = tempDir("graft_ver1")
    Versioned.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
    // crash point: v=1 directory fully written, _latest never touched
    Seq((2L, "b")).toDF("k", "v").write.mode("overwrite").parquet(s"$root/v=1")
    assert(Versioned.latestVersion(spark, root).contains(0L))
    assert(Versioned.read(spark, root).select("k").as[Long].collect().toSeq == Seq(1L))
    // the retried commit claims version 1 again and flips the pointer
    val v = Versioned.commit(spark, root, Seq((2L, "b")).toDF("k", "v"))
    assert(v == 1L)
    assert(Versioned.read(spark, root).select("k").as[Long].collect().toSeq == Seq(2L))
  }

  test("commit crash between pointer delete and rename: _latest.tmp is the live pointer, reads and commits recover it") {
    val root = tempDir("graft_ver2")
    Versioned.commit(spark, root, Seq((1L, "a")).toDF("k", "v"))
    Versioned.commit(spark, root, Seq((2L, "b")).toDF("k", "v"))
    // crash point inside commit of v=2: data written, tmp written, live
    // pointer DELETED, rename never ran
    Seq((3L, "c")).toDF("k", "v").write.mode("overwrite").parquet(s"$root/v=2")
    val tmp = new Path(s"$root/_latest.tmp")
    val out = fs.create(tmp, true)
    try out.write("2".getBytes("UTF-8")) finally out.close()
    fs.delete(new Path(s"$root/_latest"), false)
    // without tmp-recovery this state read as "no versions" and the next
    // commit restarted at v=0, clobbering history
    assert(Versioned.latestVersion(spark, root).contains(2L))
    assert(Versioned.read(spark, root).select("k").as[Long].collect().toSeq == Seq(3L))
    // versioning continues from the recovered pointer
    val v = Versioned.commit(spark, root, Seq((4L, "d")).toDF("k", "v"))
    assert(v == 3L)
    assert(Versioned.readVersion(spark, root, 1L)
      .select("k").as[Long].collect().toSeq == Seq(2L), "history intact")
  }

  test("commitIdempotent replay after a crash-before-flip performs the commit; replay after success is a no-op") {
    val root = tempDir("graft_ver3")
    assert(Versioned.commitIdempotent(spark, root, Seq((1L, "a")).toDF("k", "v"), 0L))
    // crash-before-flip of batch 1: data landed, pointer still at 0
    Seq((2L, "b")).toDF("k", "v").write.mode("overwrite").parquet(s"$root/v=1")
    // foreachBatch redelivers batch 1 → the replay must COMMIT it
    assert(Versioned.commitIdempotent(spark, root, Seq((2L, "b")).toDF("k", "v"), 1L))
    assert(Versioned.latestVersion(spark, root).contains(1L))
    // redelivery after the successful commit must be a no-op
    assert(!Versioned.commitIdempotent(spark, root, Seq((9L, "x")).toDF("k", "v"), 1L))
    assert(Versioned.read(spark, root).select("k").as[Long].collect().toSeq == Seq(2L))
  }

  // ---- Upsert.mergeLatest over a crashed swap ----

  test("mergeLatest onto a crash-torn table (.old only) recovers before merging; replaying the same batch is idempotent") {
    val root = tempDir("graft_ups1")
    val table = s"$root/dim"
    Seq((1L, 10L, "v1"), (2L, 10L, "v1")).toDF("k", "ts", "v")
      .write.parquet(table)
    // crash point: a previous merge died after renaming the table out
    fs.rename(new Path(table), new Path(table + ".old"))
    assert(!fs.exists(new Path(table)))
    val batch = Seq((2L, 20L, "v2"), (3L, 20L, "v2")).toDF("k", "ts", "v")
    Upsert.mergeLatest(batch, table, "k", "ts", "v")
    def state() = spark.read.parquet(table).select("k", "ts")
      .as[(Long, Long)].collect().toSeq.sorted
    // the pre-crash rows were recovered and merged with the batch
    assert(state() == Seq((1L, 10L), (2L, 20L), (3L, 20L)))
    // exactly-once under foreachBatch replay: merging the same batch
    // again reduces to the same keep-latest winners
    Upsert.mergeLatest(batch, table, "k", "ts", "v")
    assert(state() == Seq((1L, 10L), (2L, 20L), (3L, 20L)))
  }
}
