package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

/** Token-bucket rate limiter: event-time refill, per-key isolation,
  * replay determinism. */
class RateLimitSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Int) = new Timestamp(1700000000000L + sec * 1000L)

  private def run(events: Seq[RateEvent], capacity: Double,
                  ratePerSec: Double): Seq[RateVerdict] = {
    val mem = MemoryStream[RateEvent](spark)
    mem.addData(events: _*)
    val q = RateLimit.admit(
      mem.toDS().withWatermark("ts", "10 seconds").as[RateEvent],
      capacity, ratePerSec)
      .writeStream.format("memory").queryName("rl_out")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("rl_out")
      .as[RateVerdict].collect().toSeq.sortBy(v => (v.key, v.ts.getTime, v.payload))
    spark.sql("DROP TABLE IF EXISTS rl_out")
    out
  }

  test("a burst beyond capacity is rejected until event-time refill") {
    // capacity 2, 1 token/sec: t0 and t0 admitted, third at t0 rejected,
    // t+1s admitted (refilled 1 token), t+1.5s rejected again
    val events = Seq(
      RateEvent("k", ts(0), 1), RateEvent("k", ts(0), 2), RateEvent("k", ts(0), 3),
      RateEvent("k", ts(1), 4), RateEvent("k", ts(1), 5))
    val out = run(events, capacity = 2.0, ratePerSec = 1.0)
    assert(out.map(v => (v.payload, v.admitted)) ==
      Seq((1L, true), (2L, true), (3L, false), (4L, true), (5L, false)))
  }

  test("keys have independent buckets") {
    val events = Seq(
      RateEvent("a", ts(0), 1), RateEvent("a", ts(0), 2),
      RateEvent("b", ts(0), 3), RateEvent("b", ts(0), 4))
    val out = run(events, capacity = 1.0, ratePerSec = 0.1)
    assert(out.map(v => (v.key, v.payload, v.admitted)) ==
      Seq(("a", 1L, true), ("a", 2L, false), ("b", 3L, true), ("b", 4L, false)))
  }

  test("an idle bucket is kept until it has refilled: admit matches admitBatch across a 62-min gap") {
    // capacity 2, one token an hour: an empty bucket is full after 2 h.
    // Key a empties its bucket at 0 min and sits idle for 62 min while
    // key b moves the watermark to 61.5 min; at 62 min a has 62/60
    // tokens, so one of its two arrivals is rejected. Evicting a after a
    // fixed hour would hand it a fresh, full bucket and admit both
    val (cap, rate) = (2.0, 1.0 / 3600.0)
    def at(min: Double) = new Timestamp(1700000000000L + (min * 60000).toLong)
    val waves = Seq(
      Seq(RateEvent("a", at(0), 1), RateEvent("a", at(0), 2)),
      Seq(RateEvent("b", at(61), 3)),
      Seq(RateEvent("b", at(61.5), 4)),
      Seq(RateEvent("a", at(62), 5), RateEvent("a", at(62), 6)))
    val mem = MemoryStream[RateEvent](spark)
    val q = RateLimit.admit(
        mem.toDS().withWatermark("ts", "0 seconds").as[RateEvent], cap, rate)
      .writeStream.format("memory").queryName("rl_idle")
      .outputMode("append").start()
    for (w <- waves) { mem.addData(w: _*); q.processAllAvailable() }
    q.stop()
    def verdicts(ds: org.apache.spark.sql.Dataset[RateVerdict]) =
      ds.collect().map(v => (v.payload, v.admitted)).sortBy(_._1).toSeq
    val streamed = verdicts(spark.table("rl_idle").as[RateVerdict])
    spark.sql("DROP TABLE IF EXISTS rl_idle")
    val batch = verdicts(RateLimit.admitBatch(waves.flatten.toDS(), cap, rate))
    assert(batch == Seq((1L, true), (2L, true), (3L, true), (4L, true),
      (5L, true), (6L, false)))
    assert(streamed == batch)
  }

  test("replaying the identical stream yields identical verdicts (event-time determinism)") {
    val events = (0 until 20).map(i => RateEvent("k", ts(i / 2), i.toLong))
    val a = run(events, capacity = 3.0, ratePerSec = 0.5)
    val b = run(events, capacity = 3.0, ratePerSec = 0.5)
    assert(a == b)
    assert(a.count(_.admitted) > 0 && a.count(!_.admitted) > 0)
  }
}
