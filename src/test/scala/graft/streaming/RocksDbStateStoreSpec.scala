package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

import java.sql.Timestamp

/** Provider matrix for every stateful streaming operator: the default
  * HDFS-backed state store holds all state on the executor heap — at a
  * 100 TB keyspace that is the first thing to fall over, and the
  * production answer is the RocksDB provider (state spills to local SSD,
  * bounded heap). Each pipeline here runs under BOTH providers and must
  * produce identical results — proving the operators depend only on the
  * GroupState/dedup/window contracts, not on provider internals.
  */
class RocksDbStateStoreSpec extends SparkSpec {
  import spark.implicits._

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `pipeline` to a memory sink under the session's default (HDFS)
    * provider, then under RocksDB; the two must collect the same rows. */
  private def bothProviders(label: String)(pipeline: String => Set[Row]): Unit = {
    val hdfs = pipeline(s"${label}_hdfs")
    val rocks = withConf(ProviderKey -> RocksDb)(pipeline(s"${label}_rocks"))
    assert(hdfs.nonEmpty, s"$label: fixture must produce rows")
    assert(rocks == hdfs,
      s"$label: provider drift — only-hdfs: ${hdfs -- rocks}; only-rocks: ${rocks -- hdfs}")
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("sessionize (flatMapGroupsWithState) is provider-agnostic") {
    bothProviders("rocks_sessions") { q =>
      val mem = MemoryStream[SessionEvent](spark)
      val query = Sessionize.sessions(
          mem.toDS().withWatermark("ts", "0 seconds").as[SessionEvent],
          gapMs = 10L * 60 * 1000)
        .writeStream.format("memory").queryName(q).outputMode("append").start()
      mem.addData(
        SessionEvent(1L, ts("2024-01-01 08:00:00"), "a"),
        SessionEvent(1L, ts("2024-01-01 08:05:00"), "b"),
        SessionEvent(1L, ts("2024-01-01 09:00:00"), "c"),
        SessionEvent(2L, ts("2024-01-01 08:30:00"), "a"))
      query.processAllAvailable()
      mem.addData(SessionEvent(99L, ts("2030-01-01 00:00:00"), "end"))
      query.processAllAvailable()
      val out = spark.table(q).where(col("user_id") =!= 99L).collect().toSet
      query.stop()
      out
    }
  }

  test("CEP sequence detection (PatternMatch) is provider-agnostic") {
    bothProviders("rocks_cep") { q =>
      val mem = MemoryStream[SessionEvent](spark)
      val query = PatternMatch.detect(
          mem.toDS().withWatermark("ts", "0 seconds").as[SessionEvent],
          Seq("a", "b", "c"), maxSpanMs = 10L * 60 * 1000)
        .writeStream.format("memory").queryName(q).outputMode("append").start()
      mem.addData(
        // user 1: full match inside span
        SessionEvent(1L, ts("2024-01-01 08:00:00"), "a"),
        SessionEvent(1L, ts("2024-01-01 08:02:00"), "b"),
        SessionEvent(1L, ts("2024-01-01 08:04:00"), "c"),
        // user 2: span expires between b and c, then a fresh partial
        SessionEvent(2L, ts("2024-01-01 08:00:00"), "a"),
        SessionEvent(2L, ts("2024-01-01 08:05:00"), "b"),
        SessionEvent(2L, ts("2024-01-01 08:30:00"), "a"),
        SessionEvent(2L, ts("2024-01-01 08:31:00"), "b"),
        SessionEvent(2L, ts("2024-01-01 08:32:00"), "c"),
        // user 3: ignored event types between stages, still matches
        SessionEvent(3L, ts("2024-01-01 08:00:00"), "a"),
        SessionEvent(3L, ts("2024-01-01 08:01:00"), "noise"),
        SessionEvent(3L, ts("2024-01-01 08:02:00"), "b"),
        SessionEvent(3L, ts("2024-01-01 08:03:00"), "c"))
      query.processAllAvailable()
      mem.addData(SessionEvent(99L, ts("2030-01-01 00:00:00"), "noise"))
      query.processAllAvailable()
      val out = spark.table(q).collect().toSet
      query.stop()
      out
    }
  }

  test("rate limiting (flatMapGroupsWithState + event-time timeout) is provider-agnostic") {
    bothProviders("rocks_rate") { q =>
      val mem = MemoryStream[RateEvent](spark)
      val query = RateLimit.admit(
          mem.toDS().withWatermark("ts", "0 seconds").as[RateEvent],
          capacity = 2.0, ratePerSec = 0.1)
        .writeStream.format("memory").queryName(q).outputMode("append").start()
      mem.addData((1 to 8).map(i =>
        RateEvent("k1", ts(f"2024-01-01 08:00:${i % 60}%02d"), i.toLong)) ++
        Seq(RateEvent("k2", ts("2024-01-01 08:00:30"), 100L)): _*)
      query.processAllAvailable()
      val out = spark.table(q).collect().toSet
      query.stop()
      out
    }
  }

  test("streaming dedup within watermark is provider-agnostic") {
    bothProviders("rocks_dedup") { q =>
      val mem = MemoryStream[(Long, Timestamp)](spark)
      val query = Incremental.streamingDedup(
          mem.toDF().toDF("id", "ts").withWatermark("ts", "1 hour"), Seq("id"))
        .writeStream.format("memory").queryName(q).outputMode("append").start()
      mem.addData((1L, ts("2024-01-01 08:00:00")), (2L, ts("2024-01-01 08:01:00")),
        (1L, ts("2024-01-01 08:02:00")), (3L, ts("2024-01-01 08:03:00")),
        (2L, ts("2024-01-01 08:04:00")))
      query.processAllAvailable()
      val out = spark.table(q).select("id").collect().toSet
      query.stop()
      out
    }
  }

  test("watermarked windowed aggregation is provider-agnostic") {
    bothProviders("rocks_window") { q =>
      val mem = MemoryStream[(Timestamp, String)](spark)
      val query = Incremental.windowedEventCounts(
          mem.toDF().toDF("ts", "event_type"), "10 minutes", "0 seconds")
        .writeStream.format("memory").queryName(q).outputMode("append").start()
      mem.addData(
        (ts("2024-01-01 08:01:00"), "click"), (ts("2024-01-01 08:02:00"), "click"),
        (ts("2024-01-01 08:03:00"), "view"), (ts("2024-01-01 08:11:00"), "click"))
      query.processAllAvailable()
      // close the first windows by advancing the watermark
      mem.addData((ts("2024-01-01 10:00:00"), "late"))
      query.processAllAvailable()
      val out = spark.table(q)
        .select(col("window_start"), col("event_type"), col("n_events"))
        .collect().toSet
      query.stop()
      out
    }
  }
}
