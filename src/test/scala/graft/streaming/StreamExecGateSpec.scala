package graft.streaming

import graft.{SparkEntry, SparkSpec}

/** Pins that q_stream_exec_windowed really exercises the streaming
  * EXECUTION path (r11 verdict #6): the gate row's result must come from
  * a multi-micro-batch StreamingQuery run, and must equal the gated batch
  * twin's windowed counts exactly. */
class StreamExecGateSpec extends SparkSpec {

  test("gate row runs a real multi-batch StreamingQuery and matches the batch twin") {
    val streamed = SparkEntry.queries("q_stream_exec_windowed")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(graft.queries.StreamTwinQueries.lastStreamBatches >= 2L,
      "the streaming gate must accumulate state across >= 2 micro-batches, " +
        s"saw ${graft.queries.StreamTwinQueries.lastStreamBatches}")
    val batch = SparkEntry.queries("q_stream_windowed_counts")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "streaming execution diverged from the batch windowed counts")
  }

  test("re-invocation is memoized: the sink is stable within a session") {
    val a = SparkEntry.queries("q_stream_exec_windowed")(spark, sf).collect()
    val b = SparkEntry.queries("q_stream_exec_windowed")(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
  }

  test("append gate: watermark finalizes windows once and EVICTS their state") {
    // r12 verdict #1 — the production streaming shape: append output +
    // watermark. The sink must hold exactly the finalized windows (each
    // once), the store must have REMOVED rows (eviction really ran), and
    // the unfinalized tail must be withheld (resident state > 0, sink
    // strictly smaller than the no-watermark batch answer).
    val emitted = SparkEntry.queries("q_stream_exec_append")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(graft.queries.StreamTwinQueries.lastAppendBatches >= 2L,
      "append gate must run >= 2 micro-batches, saw " +
        graft.queries.StreamTwinQueries.lastAppendBatches)
    assert(graft.queries.StreamTwinQueries.lastAppendStateRemoved > 0L,
      "watermark eviction must remove finalized windows from the store")
    assert(graft.queries.StreamTwinQueries.lastAppendStateResident > 0L,
      "the unfinalized tail (windows above the final watermark) must " +
        "still be resident at termination, not emitted")
    // each window exactly once (monotone append, no complete-mode rewrite)
    assert(emitted.map(t => (t._1, t._2)).distinct.size == emitted.size,
      "append sink must emit each (window, type) exactly once")
    // equality with the batch GROUP BY below the final watermark, strict
    // subset of the full batch answer
    val full = SparkEntry.queries("q_stream_windowed_counts")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    val maxUs = graft.Tables.events(spark, sf)
      .agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts")))).head().getLong(0)
    val wmUs = (maxUs / 1000L - 3600000L) * 1000L
    val expected = full.filter(_._1 + 21600000000L <= wmUs)
    assert(emitted.nonEmpty && emitted == expected,
      "append sink diverged from the finalized-window batch restriction")
    assert(emitted.size < full.size,
      "the window containing max(ts) can never finalize — sink must be " +
        "a strict subset of the batch answer")
  }

  test("QueryCaches.clear removes this process's streaming scratch dirs") {
    // clearing the registry (what the suite runner does at exit) must
    // remove the per-PID scratch and invalidate the memos with it.
    // Self-sufficient: runs a gate first, so the test also passes in
    // isolation (-z), not only after the earlier tests in suite order
    SparkEntry.queries("q_stream_exec_windowed")(spark, sf).collect()
    val pid = ProcessHandle.current().pid()
    def mine() = Option(new java.io.File("/tmp").listFiles()).get
      .filter(f => f.getName.startsWith(s"graft_stream_exec_${pid}_") ||
        f.getName.startsWith(s"graft_stream_append_${pid}_") ||
        f.getName.startsWith(s"graft_stream_in_${pid}_")).toSeq
    assert(mine().nonEmpty, "expected live scratch from the gate run")
    graft.queries.QueryCaches.clear()
    assert(mine().isEmpty,
      s"scratch left behind: ${mine().map(_.getName).mkString(", ")}")
  }
}
