package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Contiguous sequence packing — assign documents to fixed token-budget
  * bins (pretraining batch assembly; builder-prompt extension surface).
  *
  * Semantics: documents are laid out in `orderCol` order and cut into bins
  * of `budget` tokens: a document's bin is `floor(exclusive_prefix_sum /
  * budget)`. Contiguous packing trades perfect bin fill for a single
  * deterministic pass (the greedy bin-covering alternative is inherently
  * sequential and order-sensitive); oversized documents simply span their
  * arithmetic share of the budget space.
  *
  * Scale shape mirrors [[StableIds]]: the naive
  * `sum() OVER (ORDER BY …)` running total forces every row through ONE
  * window partition — a non-starter at 100 TB. Instead: range-partition by
  * the ordering key, per-partition token totals (one tiny job — #partitions
  * longs to the driver), offsets broadcast back, then a map-side
  * in-partition scan. Identical output to the window formulation for a
  * unique ordering key, independent of partition boundaries (offsets
  * compensate wherever the range cut lands).
  */
object Packing {

  /** Append `bin` = floor(exclusive running token total / budget) in
    * `orderCol` order. `tokensCol` must be non-null and non-negative (a
    * NULL fails the job, naming the column); `orderCol` unique for a
    * deterministic layout. */
  def packByBudget(df: DataFrame, orderCol: Column, tokensCol: Column,
                   budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val tok = "__pack_toks"
    require(!df.columns.contains(tok), s"column '$tok' is reserved")
    val withTok = df.withColumn(tok, tokensCol.cast("long"))
    val tokIdx = withTok.schema.fieldIndex(tok)
    // Both passes MUST observe one materialized partitioning. Planning the
    // per-partition totals from a separate narrow projection
    // (`sorted.select(tok).rdd`) lets AQE coalesce the two range shuffles to
    // DIFFERENT partition counts (the tok-only plan is smaller), so the
    // offsets array goes out of sync with the data pass — observed as an
    // ArrayIndexOutOfBounds at sf1. [[StableIds.appendScan]] runs both
    // passes over one RDD, which pins the partition count and range cuts;
    // pass 2 then reuses pass 1's shuffle files rather than re-shuffling.
    val tokName = tokensCol.toString
    val packed = StableIds.appendScan(withTok, Seq(orderCol), Seq("bin")) { it =>
      // pass 1: per-partition token totals
      var s = 0L
      it.foreach { r =>
        StableIds.requireNonNull(r, tokIdx, "packByBudget", tokName)
        s += r.getLong(tokIdx)
      }
      s
    } { totals =>
      // pass 2: in-partition scan from the exclusive partition offset
      val offsets = totals.scanLeft(0L)(_ + _)
      pid => {
        var run = offsets(pid)
        (r, extra) => {
          extra.update(0, run / budget)
          run += r.getLong(tokIdx)
        }
      }
    }
    packed.drop(tok)
  }
}
