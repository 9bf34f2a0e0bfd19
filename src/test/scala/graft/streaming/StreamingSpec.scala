package graft.streaming

import graft.{SparkSpec, TempDirs}
import graft.schema.Gdelt
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.{Files => JFiles, Paths}
import java.sql.Timestamp

/** Streaming extension contract: incremental file ingest picks up only new
  * files across restarts; watermarked windowed counts; gap sessionization
  * closes sessions on gap and on watermark timeout. */
class StreamingSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private lazy val workDir = tempDir("graft_stream")

  private def writeTsv(name: String, ids: Seq[Long]): Unit = {
    val lines = ids.map { id =>
      Gdelt.columns.map {
        case "GlobalEventID" => id.toString
        case "Day" => "20130401"
        case "MonthYear" => "201304"
        case "Year" => "2013"
        case _ => "x"
      }.mkString("\t")
    }
    JFiles.write(Paths.get(workDir, "in", name), lines.mkString("\n").getBytes)
  }

  test("incremental convert: AvailableNow drains once, restart picks up only new files") {
    JFiles.createDirectories(Paths.get(workDir, "in"))
    val out = s"$workDir/out"
    val ckpt = s"$workDir/ckpt"
    writeTsv("a.export.CSV", Seq(1, 2, 3))
    Incremental.incrementalConvert(spark, s"$workDir/in", out, ckpt)
      .start().awaitTermination()
    assert(spark.read.parquet(out).count() == 3)
    // second run with one new file: only its rows are appended
    writeTsv("b.export.CSV", Seq(4, 5))
    Incremental.incrementalConvert(spark, s"$workDir/in", out, ckpt)
      .start().awaitTermination()
    val df = spark.read.parquet(out)
    assert(df.count() == 5)
    assert(df.select("GlobalEventID").as[Double].collect().toSet == Set(1d, 2d, 3d, 4d, 5d))
    // typed schema came through the streaming path
    assert(df.schema("GlobalEventID").dataType.typeName == "double")
    assert(df.schema("Year").dataType.typeName == "long")
  }

  test("AvailableNow + maxFilesPerTrigger=1: a multi-micro-batch drain is " +
      "exactly-once per file, and an idle re-run appends nothing") {
    // the reference's .done-marker contract (converter.py:146-155), fully:
    // (1) one drain splits into one micro-batch per file under the batch
    // cap and still processes each file exactly once; (2) re-running with
    // nothing new is a no-op (marker-skip); (3) a third run after a new
    // file lands picks up ONLY that file. The checkpoint WAL is the
    // transactional replacement for the marker files.
    val base = tempDir("graft_an")
    JFiles.createDirectories(Paths.get(base, "in"))
    def tsv(name: String, ids: Seq[Long]): Unit = {
      val lines = ids.map { id =>
        Gdelt.columns.map {
          case "GlobalEventID" => id.toString
          case "Day" => "20130401"
          case "MonthYear" => "201304"
          case "Year" => "2013"
          case _ => "x"
        }.mkString("\t")
      }
      JFiles.write(Paths.get(base, "in", name), lines.mkString("\n").getBytes)
    }
    val out = s"$base/out"; val ckpt = s"$base/ckpt"
    def drain(): Unit = Incremental
      .incrementalConvert(spark, s"$base/in", out, ckpt, maxFilesPerTrigger = 1)
      .start().awaitTermination()
    def committedBatches: Long =
      JFiles.list(Paths.get(ckpt, "commits")).filter(p =>
        p.getFileName.toString.forall(_.isDigit)).count()
    tsv("a.export.CSV", Seq(1, 2)); tsv("b.export.CSV", Seq(3))
    tsv("c.export.CSV", Seq(4, 5, 6))
    drain()
    val ids = spark.read.parquet(out).select("GlobalEventID").as[Double].collect()
    assert(ids.sorted.toSeq == Seq(1d, 2d, 3d, 4d, 5d, 6d),
      "every row exactly once across the split micro-batches")
    val batches1 = committedBatches
    assert(batches1 >= 3, s"maxFilesPerTrigger=1 over 3 files must commit " +
      s">= 3 micro-batches, saw $batches1")
    // idle re-run: no new files => no new rows (and every id still unique)
    drain()
    val again = spark.read.parquet(out).select("GlobalEventID").as[Double].collect()
    assert(again.sorted.toSeq == Seq(1d, 2d, 3d, 4d, 5d, 6d),
      "re-running over processed files must not duplicate rows")
    // incremental run: only the new file's rows append
    tsv("d.export.CSV", Seq(7))
    drain()
    val all = spark.read.parquet(out).select("GlobalEventID").as[Double].collect()
    assert(all.sorted.toSeq == (1L to 7L).map(_.toDouble),
      "third drain must process exactly the one new file")
  }

  test("windowed counts with watermark (update mode)") {
    val mem = MemoryStream[(Timestamp, String)](spark)
    val counts = Incremental.windowedEventCounts(
      mem.toDF().toDF("ts", "event_type"), "10 minutes", "5 minutes")
    val q = counts.writeStream.format("memory").queryName("win_counts")
      .outputMode("update").start()
    val t0 = Timestamp.valueOf("2024-01-01 10:01:00")
    val t1 = Timestamp.valueOf("2024-01-01 10:04:00")
    val t2 = Timestamp.valueOf("2024-01-01 10:12:00")
    mem.addData((t0, "click"), (t1, "click"), (t2, "view"))
    q.processAllAvailable()
    val rows = spark.table("win_counts")
      .select("window_start", "event_type", "n_events")
      .as[(Timestamp, String, Long)].collect().toSet
    assert(rows.contains((Timestamp.valueOf("2024-01-01 10:00:00"), "click", 2L)))
    assert(rows.contains((Timestamp.valueOf("2024-01-01 10:10:00"), "view", 1L)))
    q.stop()
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    val mem = MemoryStream[(Timestamp, Long)](spark)
    val deduped = Incremental.streamingDedup(
      mem.toDF().toDF("ts", "key").withWatermark("ts", "10 minutes"),
      Seq("key"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    mem.addData((t, 1L), (t, 1L), (t, 2L))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2024-01-01 10:01:00"), 1L)) // dup within horizon
    q.processAllAvailable()
    val keys = spark.table("dedup_out").select("key").as[Long].collect().toSeq
    assert(keys.sorted == Seq(1L, 2L))
    q.stop()
  }

  test("stream-stream interval join: clicks attribute to impressions within the lag") {
    val imps = MemoryStream[(Long, Timestamp)](spark)
    val clicks = MemoryStream[(Long, Timestamp)](spark)
    def ts(m: String) = Timestamp.valueOf(s"2024-01-01 $m:00")
    val joined = StreamJoin.intervalJoin(
      imps.toDF().toDF("ad_id", "its").withWatermark("its", "1 minute"),
      clicks.toDF().toDF("ad_id", "cts").withWatermark("cts", "1 minute"),
      key = "ad_id", leftTs = "its", rightTs = "cts",
      maxLagMs = 10 * 60 * 1000)
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    imps.addData((1L, ts("10:00")), (2L, ts("10:00")))
    clicks.addData(
      (1L, ts("10:05")),  // within 10 min → attributed
      (2L, ts("10:20")),  // outside the lag → dropped
      (3L, ts("10:01")))  // no impression → dropped
    q.processAllAvailable()
    val rows = spark.table("attrib").select("ad_id", "its", "cts")
      .as[(Long, Timestamp, Timestamp)].collect()
    assert(rows.toSeq == Seq((1L, ts("10:00"), ts("10:05"))))
    // a click BEFORE its impression must not match either
    imps.addData((4L, ts("11:00")))
    clicks.addData((4L, ts("10:59")))
    q.processAllAvailable()
    assert(spark.table("attrib").count() == 1)
    q.stop()
  }

  test("left-outer interval join: unmatched rows emit with nulls after the watermark passes") {
    val imps = MemoryStream[(Long, Timestamp)](spark)
    val clicks = MemoryStream[(Long, Timestamp)](spark)
    def ts(m: String) = Timestamp.valueOf(s"2024-01-01 $m:00")
    val joined = StreamJoin.leftOuterIntervalJoin(
      imps.toDF().toDF("ad_id", "its").withWatermark("its", "1 minute"),
      clicks.toDF().toDF("ad_id", "cts").withWatermark("cts", "1 minute"),
      key = "ad_id", leftTs = "its", rightTs = "cts",
      maxLagMs = 10 * 60 * 1000)
    val q = joined.writeStream.format("memory").queryName("louter")
      .outputMode("append").start()
    imps.addData((1L, ts("10:00")), (2L, ts("10:00")))
    clicks.addData((1L, ts("10:05"))) // 2 never clicks
    q.processAllAvailable()
    // the matched row may emit now; the unmatched one must NOT yet —
    // a click for ad 2 could still arrive inside the lag window
    val early = spark.table("louter").where(col("cts").isNull).count()
    assert(early == 0, "null-joined row emitted before the watermark allowed it")
    // push both watermarks far past 10:00 + lag
    imps.addData((99L, ts("11:00")))
    clicks.addData((98L, ts("11:00")))
    q.processAllAvailable()
    imps.addData((97L, ts("11:30")))
    clicks.addData((96L, ts("11:30")))
    q.processAllAvailable()
    val rows = spark.table("louter")
      .select("ad_id", "cts").as[(Long, Option[Timestamp])].collect().toSet
    assert(rows.contains((1L, Some(ts("10:05")))), "matched row missing")
    assert(rows.contains((2L, None)),
      "unmatched left row must emit with nulls once provably unmatched")
    q.stop()
  }

  test("sessionize: gap closes a session; watermark timeout closes the last one") {
    val mem = MemoryStream[SessionEvent](spark)
    val sessions = Sessionize.sessions(
      mem.toDS().withWatermark("ts", "0 seconds").as[SessionEvent],
      gapMs = 10 * 60 * 1000)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def ts(m: String) = Timestamp.valueOf(s"2024-01-01 $m:00")
    // user 1: events at 10:00, 10:05 (one session), then 10:30 (> 10m gap →
    // closes the first and opens a second)
    mem.addData(
      SessionEvent(1, ts("10:00"), "a"), SessionEvent(1, ts("10:05"), "b"))
    q.processAllAvailable()
    mem.addData(SessionEvent(1, ts("10:30"), "c"))
    q.processAllAvailable()
    val afterGap = spark.table("sessions").as[UserSession].collect()
    assert(afterGap.exists(s => s.user_id == 1 &&
      s.session_start == ts("10:00") && s.session_end == ts("10:05") && s.n_events == 2))
    // advance watermark far past the open session's timeout → it closes
    mem.addData(SessionEvent(2, ts("11:30"), "z"))
    q.processAllAvailable()
    mem.addData(SessionEvent(2, ts("11:31"), "z"))
    q.processAllAvailable()
    val all = spark.table("sessions").as[UserSession].collect()
    assert(all.exists(s => s.user_id == 1 &&
      s.session_start == ts("10:30") && s.n_events == 1))
    q.stop()
  }
}
