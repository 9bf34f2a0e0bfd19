package graft.operators

import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}

/** Bloom-filter semi-join reduction (runtime-filter pattern): build a
  * Bloom filter over the build side's join keys and pre-filter the probe
  * side BEFORE its shuffle, so rows that cannot match never pay exchange
  * or join cost.
  *
  * This is exactly the shape of Spark's own `InjectRuntimeFilter` rewrite,
  * exposed as an explicit operator so a pipeline can apply it where the
  * optimizer's heuristics would not (e.g. when the build side is itself a
  * subquery the cost model cannot size). Extension-ladder rung (b): it
  * reuses Spark's native `BloomFilterAggregate` / `BloomFilterMightContain`
  * expressions — both codegen'd — wired through a scalar subquery, so:
  *
  *  - the filter is built DISTRIBUTED (partial aggregates merge sketches;
  *    no per-row data ever reaches the driver — the driver only hosts the
  *    final fixed-size bitmap, like any broadcast),
  *  - the probe side keeps whole-stage codegen (`might_contain` over an
  *    `xxhash64`), and the pushed predicate sits BELOW the join, next to
  *    the scan,
  *  - false positives are harmless: the real join afterwards removes them,
  *    so `prune ∘ join ≡ join` exactly (the oracle-equality proof).
  *
  * At 100 TB: a 1M-key dimension at 8 bits/key is a ~1 MiB broadcast that
  * can drop >90% of a fact-table scan's output before the shuffle — the
  * standard star-schema accelerator.
  */
object BloomPrune {

  /** A Column holding the Bloom filter (binary) of `key` over `build`,
    * computed as a scalar subquery (one row, distributed aggregation). */
  def keyBloom(build: DataFrame, key: Column,
               expectedItems: Long, numBits: Long): Column = {
    val agg = new BloomFilterAggregate(
      GraftColumnBridge.expression(xxhash64(key)),
      Literal(expectedItems), Literal(numBits))
    val one = build.select(
      GraftColumnBridge.column(agg.toAggregateExpression()).as("bf"))
    GraftColumnBridge.column(ScalarSubquery(GraftColumnBridge.logicalPlan(one)))
  }

  /** `probe` restricted to rows whose `probeKey` might appear among
    * `buildKey` values of `build`. No false negatives: every actually
    * matching row survives; a later real join removes false positives. */
  def prune(probe: DataFrame, probeKey: Column,
            build: DataFrame, buildKey: Column,
            expectedItems: Long, numBits: Long): DataFrame = {
    val bf = keyBloom(build, buildKey, expectedItems, numBits)
    probe.where(GraftColumnBridge.column(BloomFilterMightContain(
      GraftColumnBridge.expression(bf),
      GraftColumnBridge.expression(xxhash64(probeKey)))))
  }
}
