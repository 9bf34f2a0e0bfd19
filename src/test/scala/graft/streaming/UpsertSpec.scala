package graft.streaming

import graft.{SparkSpec, TempDirs}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Keyed upsert sink: keep-latest semantics, idempotent replay, atomic
  * table swap, streaming drive via foreachBatch. */
class UpsertSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s"2024-01-01 $s:00")

  test("mergeLatest keeps the (ts, tieBreak)-max row per key and is idempotent") {
    val dir = tempDir("graft_upsert") + "/t"
    val b1 = Seq((1L, ts("10:00"), 1L, "a"), (2L, ts("10:00"), 1L, "b"))
      .toDF("k", "ts", "seq", "v")
    Upsert.mergeLatest(b1, dir, "k", "ts", "seq")
    // newer row for k=1; same-ts higher tiebreak for k=2; new k=3
    val b2 = Seq((1L, ts("11:00"), 2L, "a2"), (2L, ts("10:00"), 2L, "b2"),
      (3L, ts("09:00"), 1L, "c")).toDF("k", "ts", "seq", "v")
    Upsert.mergeLatest(b2, dir, "k", "ts", "seq")
    def state() = spark.read.parquet(dir).select("k", "v").as[(Long, String)]
      .collect().toMap
    assert(state() == Map(1L -> "a2", 2L -> "b2", 3L -> "c"))
    // replaying the same batch (failure re-delivery) changes nothing
    Upsert.mergeLatest(b2, dir, "k", "ts", "seq")
    assert(state() == Map(1L -> "a2", 2L -> "b2", 3L -> "c"))
    // an OLDER update never wins
    Upsert.mergeLatest(Seq((1L, ts("08:00"), 9L, "stale")).toDF("k", "ts", "seq", "v"),
      dir, "k", "ts", "seq")
    assert(state()(1L) == "a2")
  }

  test("streaming drive: foreachBatch merges each micro-batch") {
    val dir = tempDir("graft_upsert")
    val mem = MemoryStream[(Long, Timestamp, Long, String)](spark)
    def run(): Unit =
      Upsert.upsertLatest(mem.toDF().toDF("k", "ts", "seq", "v"),
        s"$dir/t", s"$dir/ckpt", "k", "ts", "seq").start().awaitTermination()
    mem.addData((1L, ts("10:00"), 1L, "x"), (1L, ts("10:30"), 2L, "y"))
    run()
    mem.addData((1L, ts("10:10"), 3L, "late"), (2L, ts("10:00"), 1L, "z"))
    run()
    val out = spark.read.parquet(s"$dir/t").select("k", "v")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "y", 2L -> "z"))
  }
}
