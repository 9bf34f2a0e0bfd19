package graft.operators

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Encoder}

/** Exact distributed heavy hitters via the two-pass sketch-then-recount
  * pattern (builder-prompt extension surface; no reference counterpart —
  * the reference keeps no frequency state at all).
  *
  * Pass 1 runs a **mergeable Misra–Gries summary** (Agarwal et al.,
  * "Mergeable Summaries", PODS 2012): O(capacity) state per task,
  * map-side combined like any Spark partial aggregation, so the only
  * thing crossing the wire is one bounded map per partition — never a
  * per-key shuffle of the full domain. Its guarantee: every value with
  * true frequency > n/(capacity+1) survives as a candidate. Pass 2
  * re-counts ONLY the candidates (broadcast semi join — at most
  * `capacity` keys) and keeps those with exact count·k > n.
  *
  * With capacity ≥ k the candidate set provably contains every answer,
  * so the output is bit-identical to a full exact groupBy + HAVING —
  * which is exactly what the DuckDB oracle runs. The win at 100 TB is
  * pass 1's state bound: a trillion-token corpus with billions of
  * distinct n-grams needs only `capacity` counters per task plus an
  * aggregation tree over maps, where the naive groupBy would shuffle
  * every distinct key; pass 2 touches the corpus again but its
  * aggregation state is ≤ capacity keys. (The harness fixture's token
  * distribution is deliberately uniform, so the gate query exercises
  * mergeability and recount exactness; the compression property —
  * capacity ≪ distinct — is exercised by the Zipfian spec.)
  */
object HeavyHitters {

  /** Misra–Gries frequency summary over string values. Buffer: at most
    * `capacity` (value → counter) entries. Reduce decrements all counters
    * when a new key arrives at a full buffer (the classic MG step);
    * merge sums counterparts then subtracts the (capacity+1)-th largest
    * counter from all (the mergeable-summaries trim), preserving the
    * error bound ≤ n/(capacity+1) under arbitrary merge trees. */
  case class MisraGries(capacity: Int)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    require(capacity > 0, s"capacity must be positive, got $capacity")

    override def zero: Map[String, Long] = Map.empty

    override def reduce(buf: Map[String, Long], v: String): Map[String, Long] =
      buf.get(v) match {
        case Some(c)                         => buf.updated(v, c + 1L)
        case None if buf.size < capacity     => buf.updated(v, 1L)
        case None =>
          // full buffer, unseen key: decrement everything, drop zeros —
          // the arriving key's single count cancels against the shared
          // decrement, so it is not inserted
          buf.collect { case (k, c) if c > 1L => k -> (c - 1L) }
      }

    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val summed =
        if (b.isEmpty) a
        else if (a.isEmpty) b
        else b.foldLeft(a) { case (acc, (k, c)) =>
          acc.updated(k, acc.getOrElse(k, 0L) + c)
        }
      if (summed.size <= capacity) summed
      else {
        // subtract the (capacity+1)-th largest counter, keep positives —
        // at most `capacity` entries survive by construction
        val cut = summed.valuesIterator.toArray.sortBy(-_).apply(capacity)
        summed.collect { case (k, c) if c > cut => k -> (c - cut) }
      }
    }

    override def finish(r: Map[String, Long]): Map[String, Long] = r

    override def bufferEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
  }

  /** Values of `value` with exact frequency · k > total row count, as
    * (v, cnt) ordered by descending count. Two passes over `df`; state
    * bounded by `capacity` everywhere (requires capacity ≥ k for the
    * recall guarantee — see class doc). */
  def exact(df: DataFrame, value: Column, k: Int, capacity: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(capacity >= k,
      s"capacity ($capacity) must be >= k ($k) for exact recall")
    val spark = df.sparkSession
    import spark.implicits._
    // consumed three times (Misra–Gries pass, total count, recount join):
    // materialize the value projection once — the caller's value column is
    // typically an expensive derivation (exploded bigrams), and each
    // reference re-ran it (opt r13, guide §2.4)
    val vals = df.select(value.cast("string").as("v")).where(col("v").isNotNull)
      .localCheckpoint(false)
    val candidates = vals.as[String]
      .select(MisraGries(capacity).toColumn.name("cand"))
      .select(explode(map_keys(col("cand"))).as("v"))
    val total = vals.agg(count(lit(1)).as("n_total"))
    vals.join(broadcast(candidates), Seq("v"), "leftsemi")
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .where(col("cnt") * lit(k.toLong) > col("n_total"))
      .select(col("v"), col("cnt"))
      .orderBy(col("cnt").desc, col("v"))
  }
}
