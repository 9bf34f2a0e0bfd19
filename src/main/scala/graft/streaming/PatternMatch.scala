package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ArrayBuffer

/** One completed pattern occurrence: the user, when the first stage fired,
  * when the last stage fired, and the realized span. */
final case class PatternHit(user_id: Long, start_ts: java.sql.Timestamp,
                            end_ts: java.sql.Timestamp, span_ms: Long)

/** Partial-match accumulator in the state store: how many stages have
  * matched and when the first one fired (epoch millis). */
final case class PatternAcc(stage: Int, start_ms: Long)

/** CEP-lite ordered-sequence detection over an event stream — "user did
  * A, then B, then C within T" (funnel alerts, fraud sequences, abuse
  * escalation), the streaming twin of the batch funnel query family.
  *
  * Matching contract (deterministic, greedy-earliest, non-overlapping):
  * events advance one shared partial match per user; a stage-k event
  * matches only when the partial sits at stage k-1 and the whole span
  * stays within `maxSpanMs` of the partial's first stage; a completed
  * match emits and RESETS the partial (occurrences never overlap); a
  * stage-1 event while no partial is open always opens one; expired
  * partials (span exceeded) are discarded and the triggering event is
  * re-considered as a fresh stage-1 candidate. Non-pattern event types
  * are ignored, not resets — the funnel semantics, not strict
  * contiguity.
  *
  * Scale shape (same discipline as [[Sessionize]]): state is ONE small
  * fixed-size record per user with an OPEN partial — not per event, not
  * per user ever seen. Event-time timeouts tied to the watermark remove
  * state for partials that can no longer complete (start + maxSpan below
  * the watermark), so state size tracks users inside an active window.
  * The group shuffle is the one unavoidable exchange.
  */
object PatternMatch {

  /** Streaming detection. `events` must carry a watermark on `ts`;
    * `pattern` is the ordered stage list (≥ 2 distinct stages). */
  def detect(events: Dataset[SessionEvent], pattern: Seq[String],
             maxSpanMs: Long): Dataset[PatternHit] = {
    require(pattern.size >= 2, "pattern needs at least 2 stages")
    val spark = events.sparkSession
    import spark.implicits._
    val stages = pattern.toIndexedSeq
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PatternAcc, PatternHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[SessionEvent], state: GroupState[PatternAcc]) =>
          if (state.hasTimedOut) {
            // the open partial can no longer complete inside maxSpan
            state.remove()
            Iterator.empty
          } else {
            val (out, acc) = fold(stages, maxSpanMs, user, batch, state.getOption)
            acc match {
              case Some(a) =>
                state.update(a)
                // remove state once the watermark proves no in-order event
                // can still land inside the span (same +1 clamp as
                // Sessionize: a timeout at/below the watermark kills the
                // query, so degrade to next-trigger cleanup instead)
                val floor = state.getCurrentWatermarkMs() + 1
                state.setTimeoutTimestamp(math.max(a.start_ms + maxSpanMs, floor))
              case None => if (state.exists) state.remove()
            }
            out.iterator
          }
      }
  }

  /** Batch twin — the same greedy fold over each user's time-ordered
    * events, as a shuffle-once `flatMapGroups`. Used by the parity spec
    * and as the backfill path (one batch run over history = the stream's
    * output replayed). */
  def detectBatch(events: Dataset[SessionEvent], pattern: Seq[String],
                  maxSpanMs: Long): Dataset[PatternHit] = {
    require(pattern.size >= 2, "pattern needs at least 2 stages")
    val spark = events.sparkSession
    import spark.implicits._
    val stages = pattern.toIndexedSeq
    events.groupByKey(_.user_id).flatMapGroups { (user, it) =>
      fold(stages, maxSpanMs, user, it, None)._1.iterator
    }
  }

  /** The greedy fold both detectors share: `user`'s events in time order
    * advance the partial `start`; returns the completed hits and the
    * partial left open. */
  private def fold(stages: IndexedSeq[String], maxSpanMs: Long, user: Long,
                   events: Iterator[SessionEvent], start: Option[PatternAcc])
      : (ArrayBuffer[PatternHit], Option[PatternAcc]) = {
    val out = ArrayBuffer[PatternHit]()
    var acc = start
    events.toSeq.sortBy(_.ts.getTime).foreach { e =>
      val t = e.ts.getTime
      // expire a partial the span has outrun BEFORE matching, so the
      // current event can open a fresh attempt
      acc = acc.filter(a => t - a.start_ms <= maxSpanMs)
      acc match {
        case Some(a) if stages(a.stage) == e.event_type =>
          if (a.stage + 1 == stages.size) {
            out += PatternHit(user, new java.sql.Timestamp(a.start_ms),
              new java.sql.Timestamp(t), t - a.start_ms)
            acc = None // non-overlapping: completed match resets
          } else acc = Some(PatternAcc(a.stage + 1, a.start_ms))
        case None if stages.head == e.event_type =>
          acc = Some(PatternAcc(1, t))
        case _ => () // non-advancing event: ignored, not a reset
      }
    }
    (out, acc)
  }
}
