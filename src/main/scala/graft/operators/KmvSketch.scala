package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** KMV (k-minimum-values) distinct-count sketch with set-operation
  * estimates — the mergeable bottom-k alternative to HLL when you also
  * need INTERSECTION and Jaccard between sets (HLL only unions cleanly).
  *
  * Everything is integer arithmetic on a 52-bit md5-derived hash, so the
  * sketch, its merges, and every estimate are bitwise reproducible across
  * engines (the DuckDB oracle recomputes them from the same md5 — exact
  * equality on the gate proves the pipeline, not a tolerance):
  *
  *   - hash h(x) = first 13 hex chars of md5(x) — uniform on [0, 2^52);
  *   - sketch(S) = k smallest distinct h values: a per-set rank window;
  *     distributed build is bottom-k per partition then re-rank (Spark's
  *     partial/final `WindowGroupLimit` under the rank filter);
  *   - |S| ≈ (k−1)·2^52 / h_(k) — with a 52-bit space the numerator fits
  *     a long for k ≤ 2048, no wide-decimal detour;
  *   - merge(A, B) = k smallest of the multiset union — never rescans data;
  *   - Jaccard ≈ |K(A∪B) ∩ K(A) ∩ K(B)| / k over the merged sketch's
  *     members (the standard KMV intersection estimator).
  */
object KmvSketch {

  val HashSpace: Long = 1L << 52

  /** 52-bit hash column from any expression's canonical string form. */
  def hash52(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 13), 16, 10).cast("long")

  /** Bottom-k distinct hashes per `setKey`: (set, h, rn) with rn ≤ k.
    * One distinct + one rank window keyed on the set — at scale the
    * window input is already capped by per-partition bottom-k (Spark's
    * partial `WindowGroupLimit`, inferred for k ≤ 1000). */
  def sketch(df: DataFrame, setKey: Column, value: Column, k: Int): DataFrame = {
    val w = Window.partitionBy("set").orderBy(col("h"))
    df.select(setKey.as("set"), hash52(value).as("h")).distinct()
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  /** Distinct-count estimate per set: (k−1)·2^52 div h_(k); exact count
    * when the set has fewer than k members (the sketch IS the set). */
  def estimate(sk: DataFrame, k: Int): DataFrame =
    sk.groupBy("set").agg(count(lit(1)).as("n_in"), max("h").as("hk"))
      .select(col("set"),
        when(col("n_in") < k, col("n_in"))
          .otherwise(expr(s"(${k - 1} * ${HashSpace}L) DIV hk"))
          .as("distinct_est"))
}
