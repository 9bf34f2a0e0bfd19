package graft.sample

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Sampling operators — the heart of the reference (SURVEY.md §2.6), mapped
  * Spark-first.
  *
  * The reference implements exact-n uniform sampling three ways (global file
  * index + NumPy choice, reference sampling/indexer.py:14-101; Vitter
  * Algorithm-R reservoir, sampling/samplers.py:352-402; per-group reservoirs,
  * samplers.py:405-466). All of that machinery exists because pandas cannot
  * do a distributed scan. On Spark the same semantics are two physical
  * shapes, both scale-safe:
  *
  *   - global exact-n   → `ORDER BY <rand> LIMIT n`, planned as
  *     `TakeOrderedAndProject`: each task keeps an n-element heap, the driver
  *     merges per-partition top-n — no full sort, no full shuffle. O(n)
  *     memory per task, single pass, same guarantees as a merged reservoir.
  *   - exact-k per group → `row_number() OVER (PARTITION BY g ORDER BY
  *     <rand>) <= k`: one hash shuffle on the group key; groups smaller than
  *     k return all rows (samplers.py:433-446 semantics). For k ≤
  *     `spark.sql.optimizer.windowGroupLimitThreshold` (1000) Spark plans a
  *     partial `WindowGroupLimit` below the shuffle and a final one above
  *     it, so each map task cuts every group to k rows before the shuffle.
  *
  * Randomness is an ORDERING, pluggable via [[SampleOrder]]:
  *
  *   - [[SampleOrder.HashOf]] (default): rank by `xxhash64(seed, id…)`.
  *     Content-based, so the sample is reproducible regardless of partition
  *     count, file split, or cluster size — a strictly stronger contract than
  *     the reference's seed-reproducibility, which silently depends on file
  *     enumeration order (samplers.py:60-67). This is the one to use at
  *     100 TB: re-running on a different cluster layout returns the same rows.
  *   - [[SampleOrder.Rand]]: Spark `rand(seed)`. Matches
  *     the "same seed ⇒ same sample" contract only for a fixed partitioning
  *     (rand seeds per-partition); kept for uniformity when no stable id
  *     column exists.
  *   - [[SampleOrder.By]]: a caller-supplied deterministic ordering — the
  *     oracle-testable surrogate (SURVEY.md §7.4): "k smallest ids per group"
  *     exercises the identical physical plan and is exactly expressible in
  *     ANSI SQL for the DuckDB comparison.
  */
object Samplers {

  sealed trait SampleOrder { def sortExprs: Seq[Column] }
  object SampleOrder {
    /** Deterministic content-hash order: partition-layout independent. */
    final case class HashOf(seed: Long, idCols: Seq[Column]) extends SampleOrder {
      def sortExprs: Seq[Column] = xxhash64(lit(seed) +: idCols: _*) +: idCols
    }
    /** Spark rand(seed); deterministic only for fixed partitioning. */
    final case class Rand(seed: Long) extends SampleOrder {
      def sortExprs: Seq[Column] = Seq(rand(seed))
    }
    /** Caller-supplied deterministic ordering (oracle surrogate). */
    final case class By(cols: Seq[Column]) extends SampleOrder {
      def sortExprs: Seq[Column] = cols
    }
  }

  /** Null-stratum sentinel, matching the reference's
    * `fillna("__NA__")` (samplers.py:421-423). */
  val NullStratum = "__NA__"

  /** Stratum key expression: any-type column → string with null sentinel. */
  def stratumKey(c: Column): Column = coalesce(c.cast("string"), lit(NullStratum))

  /** Exact-n uniform sample without replacement over `df` (R1/R4).
    *
    * Plans as `TakeOrderedAndProject` — per-partition top-n heap, driver
    * merge; no global sort materializes. The reference's IndexedSampler
    * raises when `n > total` (samplers.py:86-87); the CLI's `indexed` mode
    * checks that against the input's footer row counts before calling.
    */
  def uniformExact(df: DataFrame, n: Int, order: SampleOrder): DataFrame = {
    require(n >= 0, s"sample size must be >= 0, got $n")
    df.orderBy(order.sortExprs: _*).limit(n)
  }

  /** Exact-k-per-group sample (core of R2 daily and R5 stratified).
    * Groups with fewer than k rows return all their rows. */
  def perGroup(df: DataFrame, groupCols: Seq[Column], k: Int,
               order: SampleOrder): DataFrame = {
    require(k >= 0, s"per-group sample size must be >= 0, got $k")
    firstPerGroup(df, groupCols, order, "__rn", lit(k))
  }

  /** The rows of `df` whose `row_number()` within their `groupCols` group,
    * in `order`, is at most `limit` — the exact-k-per-group tail of
    * [[perGroup]] and [[mixExact]]. */
  private def firstPerGroup(df: DataFrame, groupCols: Seq[Column],
                            order: SampleOrder, prefix: String,
                            limit: Column): DataFrame = {
    val rn = freshNames(df, prefix).next()
    val w = Window.partitionBy(groupCols: _*).orderBy(order.sortExprs: _*)
    df.withColumn(rn, row_number().over(w))
      .where(col(rn) <= limit)
      .drop(rn)
  }

  /** Temp column names `prefix0`, `prefix1`, … absent from `df`: a caller
    * column literally named like a temp column survives the round-trip
    * untouched. */
  private def freshNames(df: DataFrame, prefix: String): Iterator[String] =
    Iterator.from(0).map(i => s"$prefix$i").filter(n => !df.columns.contains(n))

  /** Daily sampler (R2): k rows per day. The reference samples per
    * (file, day) — an artifact of its per-file loop (samplers.py:142-154)
    * that we normalize to true per-day semantics (SURVEY.md §7.4); on the
    * reference's flat daily-file layout the two are identical. */
  def daily(df: DataFrame, dayCol: Column, k: Int, order: SampleOrder): DataFrame =
    perGroup(df, Seq(dayCol), k, order)

  /** Stratified sampler (R5): exact-k per stratum, nulls forming one
    * `__NA__` group. */
  def stratified(df: DataFrame, stratCol: Column, k: Int,
                 order: SampleOrder): DataFrame =
    perGroup(df, Seq(stratumKey(stratCol)), k, order)

  /** Exact-n weighted sample without replacement (Efraimidis–Spirakis
    * A-ES): each row gets key ln(u)/w with u a content-hash uniform in
    * (0,1); the n largest keys form a sample where inclusion probability
    * tracks weight — the standard quality-weighted corpus sampler. The
    * log-domain key is order-equivalent to the textbook u^(1/w) but never
    * underflows (u^(1/w) hits 0.0 for small weights, which would silently
    * drop valid rows). Plans as `TakeOrderedAndProject` like
    * [[uniformExact]]; reproducible independent of partition layout. Rows
    * with weight <= 0 are excluded. */
  def weightedExact(df: DataFrame, n: Int, weightCol: Column, seed: Long,
                    idCols: Seq[Column]): DataFrame = {
    require(n >= 0, s"sample size must be >= 0, got $n")
    val M = 1L << 40
    val names = freshNames(df, "__wp")
    val (rn, wh) = (names.next(), names.next())
    // the content hash feeds both the uniform key and the tiebreak — bind it
    // to one column so it is evaluated once per row, not twice
    val u = (pmod(col(wh), lit(M)).cast("double") + 0.5) / lit(M.toDouble)
    df.where(weightCol > 0)
      .withColumn(wh, xxhash64(lit(seed) +: idCols: _*))
      .withColumn(rn, log(u) / weightCol)
      .orderBy(col(rn).desc, col(wh))
      .limit(n)
      .drop(rn, wh)
  }

  /** Mixture sampling: exact per-source sample sizes — the dataset-mixing
    * step of a training recipe ("40k from web, 10k from code, 1k from
    * math"). One rank window partitioned by source, target looked up from
    * a broadcast map literal; sources absent from `targets` contribute 0
    * rows, sources smaller than their target contribute everything.
    * Shuffle = the single hash exchange on the source column. */
  def mixExact(df: DataFrame, sourceCol: Column, targets: Map[String, Int],
               order: SampleOrder): DataFrame = {
    require(targets.values.forall(_ >= 0), "targets must be >= 0")
    val tmap = map(targets.flatMap { case (k, v) =>
      Seq(lit(k), lit(v)) }.toSeq: _*)
    firstPerGroup(df, Seq(sourceCol), order, "__mx",
      coalesce(element_at(tmap, sourceCol.cast("string")), lit(0)))
  }
}
