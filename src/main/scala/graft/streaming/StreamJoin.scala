package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream interval join — the attribution pattern (impression →
  * click within a lag window), completing the streaming operator family
  * (builder-prompt extension; the reference has no streaming at all,
  * SURVEY.md §2.10).
  *
  * Scale shape: both inputs MUST carry event-time watermarks; combined
  * with the time-range join condition they bound the join state Spark
  * buffers per side — left rows expire once the right watermark passes
  * `leftTs + maxLagMs`, right rows once the left watermark passes their
  * own timestamp. Without the range condition the state store grows
  * without bound; this operator makes the condition impossible to forget.
  */
object StreamJoin {

  /** Inner-join right rows onto left rows with the same `key` whose
    * `rightTs` falls within [leftTs, leftTs + maxLagMs].
    * Timestamp columns must be named differently on the two sides. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String, maxLagMs: Long): DataFrame =
    join(left, right, key, leftTs, rightTs, maxLagMs, "inner")

  /** Left-outer variant of [[intervalJoin]]: unmatched left rows ARE
    * emitted (right columns null) — but only once the right-side
    * watermark has passed `leftTs + maxLagMs`, because until then a
    * matching right row could still arrive. That deferred emission is
    * the semantic difference from a batch left join, and the reason the
    * time-range condition is mandatory here too: it is what lets Spark
    * prove a left row can no longer match and release both the state
    * entry and the null-joined result. */
  def leftOuterIntervalJoin(left: DataFrame, right: DataFrame, key: String,
                            leftTs: String, rightTs: String,
                            maxLagMs: Long): DataFrame =
    join(left, right, key, leftTs, rightTs, maxLagMs, "leftOuter")

  /** The interval join of type `joinType`: the argument checks, the
    * reserved right-key name and the time-range condition. */
  private def join(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String, maxLagMs: Long,
                   joinType: String): DataFrame = {
    require(maxLagMs > 0, s"maxLagMs must be positive, got $maxLagMs")
    require(left.columns.contains(key) && right.columns.contains(key),
      s"both sides need key column '$key'")
    require(leftTs != rightTs,
      "left and right timestamp columns must be named differently")
    val rk = "__sj_rk"
    require(!left.columns.contains(rk) && !right.columns.contains(rk),
      s"column '$rk' is reserved")
    left.join(right.withColumnRenamed(key, rk),
        col(key) === col(rk) &&
          col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxLagMs MILLISECONDS"),
        joinType)
      .drop(rk)
  }
}
