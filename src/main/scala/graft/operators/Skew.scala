package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Skew-mitigation operators for hot grouping keys (builder-prompt scale
  * surface; no reference analogue — the reference is single-process).
  *
  * Two-phase salted aggregation: phase 1 groups on (key, salt) where salt
  * spreads each hot key over `buckets` reducers; phase 2 re-aggregates the
  * per-salt partials on the key alone. The second shuffle moves only
  * buckets·|distinct keys| rows, so a key holding 30% of a 100 TB table
  * costs 1/buckets of a reducer instead of one straggler. For aggregates
  * that decompose (count/sum/min/max), the result is exactly the
  * single-phase answer.
  *
  * (AQE's skew-join splitting covers *joins* at runtime; salting covers
  * *aggregations* and is plan-level, deterministic, and AQE-independent.)
  */
object Skew {

  /** Salted exact count per key. The salt must derive from row CONTENT
    * (`saltFrom` columns — ideally a unique id): a positional source like
    * `monotonically_increasing_id()` or `rand()` re-draws when a task is
    * recomputed after a fetch failure, routing recomputed rows to
    * different reduce partitions than the original attempt — double
    * counting some rows and losing others. Content hashes re-derive
    * identically on retry. */
  def saltedCount(df: DataFrame, key: Column, saltFrom: Seq[Column],
                  buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(saltFrom.nonEmpty, "saltFrom must name at least one content column")
    val salted = df.groupBy(key.as("__key"),
        pmod(xxhash64(saltFrom: _*), lit(buckets.toLong)).as("__salt"))
      .agg(count(lit(1)).as("__partial"))
    salted.groupBy(col("__key"))
      .agg(sum(col("__partial")).as("n"))
      .select(col("__key"), col("n"))
  }

  /** Salted equi-join for a skewed LEFT side: each left row gets a
    * content-derived salt in [0, buckets); the right side is REPLICATED
    * once per salt value; the join runs on (key, salt). A left key holding
    * 30% of the table spreads over `buckets` reducers instead of one
    * straggler, at the cost of `buckets`× the (smaller) right side in the
    * shuffle — the standard trade when the right side is too big to
    * broadcast but far smaller than the skewed fact side.
    *
    * Row-identical to the plain join: every (left row, right row) pair
    * with equal keys meets in exactly one salt bucket — the left row's.
    * Same content-salt contract as [[saltedCount]] (retry-deterministic).
    * An inner join (an outer join would need the unmatched-right
    * bookkeeping deduplicated across replicas). */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 saltFrom: Seq[Column], buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(saltFrom.nonEmpty, "saltFrom must name at least one content column")
    val reserved = "__salt"
    require(!left.columns.contains(reserved) && !right.columns.contains(reserved),
      s"input columns clash with reserved name $reserved")
    val l = left.withColumn(reserved,
      pmod(xxhash64(saltFrom: _*), lit(buckets.toLong)))
    val r = right.withColumn(reserved,
      explode(sequence(lit(0L), lit(buckets.toLong - 1))))
    l.join(r, Seq(key, reserved)).drop(reserved)
  }
}
