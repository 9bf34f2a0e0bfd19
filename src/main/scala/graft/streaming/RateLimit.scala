package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One keyed arrival (event-time in `ts`). */
final case class RateEvent(key: String, ts: java.sql.Timestamp, payload: Long)

/** Token-bucket state per key: tokens remaining at `last_ms`. */
final case class BucketState(tokens: Double, last_ms: Long)

/** Admission verdict for one arrival. */
final case class RateVerdict(key: String, ts: java.sql.Timestamp,
                             payload: Long, admitted: Boolean)

/** Per-key token-bucket rate limiting via `flatMapGroupsWithState` — the
  * ingestion-quota primitive (API scrape pacing, per-tenant write quotas,
  * abuse throttling) expressed as custom streaming state.
  *
  * Semantics: a bucket of `capacity` tokens per key refills at
  * `ratePerSec` tokens/second in EVENT time; each arrival spends one
  * token or is marked rejected. Event-time refill makes the operator
  * deterministic under replay — reprocessing the same stream yields the
  * same verdicts (wall-clock-based limiters do not).
  *
  * Scale shape: state is ONE small record per active key, partitioned by
  * key; an event-time timeout evicts a bucket once it has been idle for
  * `capacity / ratePerSec` seconds, the time an empty bucket takes to
  * refill to full — so eviction is semantics-preserving: a fresh bucket
  * IS a full bucket. State tracks active keys, not history.
  */
object RateLimit {

  /** The per-key event-time token-bucket fold — ONE implementation shared
    * by the streaming operator and [[admitBatch]], so the batch twin (and
    * its DuckDB gate row, q_stream_rate_limit) anchors the streaming
    * semantics verbatim. Sorts by (event-time ms, payload) — the payload
    * tie-break makes same-millisecond arrivals deterministic under any
    * partition layout. Pure fixed-order IEEE double arithmetic (no libm),
    * so the verdict sequence is bit-reproducible cross-engine. */
  private[streaming] def foldBucket(events: Seq[RateEvent], st0: BucketState,
      capacity: Double, ratePerSec: Double): (Seq[RateVerdict], BucketState) = {
    var st = st0
    val out = events.sortBy(e => (e.ts.getTime, e.payload)).map { e =>
      val t = e.ts.getTime
      val refilled =
        if (st.last_ms == Long.MinValue) capacity
        else math.min(capacity,
          st.tokens + (t - st.last_ms).max(0L) / 1000.0 * ratePerSec)
      val admitted = refilled >= 1.0
      st = BucketState(if (admitted) refilled - 1.0 else refilled,
        math.max(t, st.last_ms))
      RateVerdict(e.key, e.ts, e.payload, admitted)
    }
    (out, st)
  }

  def admit(events: Dataset[RateEvent], capacity: Double,
            ratePerSec: Double): Dataset[RateVerdict] = {
    require(capacity >= 1.0, s"capacity must be >= 1, got $capacity")
    require(ratePerSec > 0, s"ratePerSec must be positive, got $ratePerSec")
    // an empty bucket is full again after this many ms of event time
    val refillMs = capacity / ratePerSec * 1000.0
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[BucketState, RateVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, batch: Iterator[RateEvent], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            // idle long enough to have refilled to capacity — a fresh
            // bucket is indistinguishable, so dropping state is lossless
            state.remove()
            Iterator.empty
          } else {
            val st0 = state.getOption.getOrElse(BucketState(capacity, Long.MinValue))
            val (out, st) = foldBucket(batch.toSeq, st0, capacity, ratePerSec)
            state.update(st)
            val floor = state.getCurrentWatermarkMs() + 1
            // rounded up, and saturating for a refill time past Long range
            val full = math.ceil(st.last_ms + refillMs).toLong
            state.setTimeoutTimestamp(math.max(full, floor))
            out.iterator
          }
      }
  }

  /** Batch twin — the identical fold over each key's full history, as a
    * shuffle-once `flatMapGroups` (the funnel/detectBatch recipe): one
    * hash exchange on the key, per-group state is one bucket record, group
    * work is the key's own arrivals sorted in memory. */
  def admitBatch(events: Dataset[RateEvent], capacity: Double,
                 ratePerSec: Double): Dataset[RateVerdict] = {
    require(capacity >= 1.0, s"capacity must be >= 1, got $capacity")
    require(ratePerSec > 0, s"ratePerSec must be positive, got $ratePerSec")
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.key).flatMapGroups { (_, it) =>
      foldBucket(it.toSeq, BucketState(capacity, Long.MinValue),
        capacity, ratePerSec)._1.iterator
    }
  }
}
