package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Count-min sketch — sublinear frequency estimation for heavy-hitter
  * queries over streams/corpora too large for an exact per-key count to
  * be kept hot. `d` hash rows × `w` buckets of integer counters; an
  * item's estimate is the MIN of its `d` bucket counters, which
  * overestimates by at most ε·N (ε ≈ e/w) with probability 1−δ
  * (δ ≈ e^−d) — never underestimates.
  *
  * Distributed shape: the sketch IS a (row, bucket, cnt) aggregation —
  * one shuffle with map-side combine, counters merge by addition, so
  * per-partition/per-day sketches union + re-aggregate into the global
  * one (the mergeability that makes sketches work on a cluster).
  *
  * Determinism: buckets derive from md5 (the project's cross-engine
  * hash), counters are exact integers — the sketch and every estimate are
  * bitwise reproducible in the DuckDB oracle, not just within the ε
  * guarantee.
  */
object CountMin {

  /** md5-derived bucket of a (hash-row, value) pair in [0, w). */
  private def bucket(r: Column, v: Column, w: Int): Column =
    pmod(conv(substring(md5(concat(r.cast("string"), lit(":"), v)), 1, 15),
      16, 10).cast("long"), lit(w.toLong))

  /** The sketch itself: one row per touched (r, bucket) with its count.
    * Union sketches of disjoint inputs and re-sum to merge.
    *
    * Plan shape (batch): occurrences pre-aggregate to (value, count)
    * FIRST — the d-way explode and the d md5s then run over the
    * distinct-value domain, not the occurrence stream (4·V hashes instead
    * of 4·N; natural-text N/V is 100+). The extra vocabulary shuffle is
    * map-side combined and value-domain-sized; the sketch totals are
    * identical either way. A STREAMING input keeps the direct
    * one-aggregation form — two chained stateful aggregates are not
    * allowed in a stream, and the (r, bucket) state is the sketch itself
    * (d·w counters), already minimal. */
  def sketch(df: DataFrame, value: Column, d: Int, w: Int): DataFrame =
    if (df.isStreaming) {
      require(d > 0 && w > 0, s"need d > 0, w > 0; got d=$d w=$w")
      perHashRow(df.select(value.as("v")), d, w, col("v"))
        .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
    } else sketchWeighted(
      df.groupBy(value.as("v")).agg(count(lit(1)).as("wt")),
      col("v"), col("wt"), d, w)

  /** Weighted sketch: each (value, weight) row adds `weight` to the
    * value's d counters — the pre-aggregated / decayed-count form.
    * `sketch` == `sketchWeighted` over per-value occurrence counts. */
  def sketchWeighted(df: DataFrame, value: Column, weight: Column,
                     d: Int, w: Int): DataFrame = {
    require(d > 0 && w > 0, s"need d > 0, w > 0; got d=$d w=$w")
    perHashRow(df.select(value.as("v"), weight.cast("long").as("wt")), d, w,
        col("v"), col("wt"))
      .groupBy("r", "bucket").agg(sum(col("wt")).as("cnt"))
  }

  /** `cols` of `df` once per hash row `r` in [0, d), with the `bucket` of
    * its value `v` in that row. */
  private def perHashRow(df: DataFrame, d: Int, w: Int, cols: Column*): DataFrame =
    df.select(cols :+ explode(sequence(lit(0), lit(d - 1))).as("r"): _*)
      .withColumn("bucket", bucket(col("r"), col("v"), w))

  /** Point estimates for the distinct values of `items`: (v, est).
    * `d`/`w` must match the sketch's. Items the sketch never saw get the
    * collision mass of their buckets (possibly 0). */
  def estimate(sk: DataFrame, items: DataFrame, value: Column,
               d: Int, w: Int): DataFrame =
    perHashRow(items.select(value.as("v")).distinct(), d, w, col("v"))
      .join(sk, Seq("r", "bucket"), "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy("v").agg(min(col("cnt")).as("est"))
}
