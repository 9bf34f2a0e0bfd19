package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** 2-D Pareto skyline (maximize `maxCol`, minimize `minCol`).
  *
  * A point is dominated iff another point is ≥ in the maximized dimension
  * and ≤ in the minimized one, strictly better in at least one. The naive
  * test is an all-pairs inequality join — quadratic, a non-starter at
  * scale. This implementation is two stages:
  *
  *  1. **Grid prune** (the distributed workhorse): bucket the maximized
  *     dimension, take per-bucket min of the minimized dimension (one
  *     map-side-combined shuffle over a ~thousand-row bucket table), and
  *     prefix-min it from the top bucket down. Any point whose `minCol`
  *     exceeds the min over strictly higher buckets is certainly
  *     dominated (dominance is transitive, so dropping dominated points
  *     never removes a skyline member). The bucket table broadcasts; the
  *     prune is a map-only filter on the full data. On real
  *     distributions this eliminates all but O(skyline) points.
  *  2. **Exact pass** on the survivors: per distinct `maxCol` value take
  *     the min of `minCol`, prefix-min strictly-higher values with one
  *     ordered window (input = distinct survivor values — small after
  *     the prune), and keep points beaten by neither the
  *     strictly-higher prefix nor a same-value strictly-smaller min.
  *
  * Ties: duplicate points (same maxCol AND same minCol as the per-value
  * min) are all skyline members — neither dominates the other.
  */
object Skyline {

  def skyline2D(points: DataFrame, maxCol: String, minCol: String,
      bucketWidth: Double): DataFrame = {
    val x = col(maxCol)
    val y = col(minCol)

    // stage 1: certain-dominance prune via the bucket grid
    val bucketed = points.withColumn("__b", floor(x / lit(bucketWidth)))
    val grid = bucketed.groupBy(col("__b")).agg(min(y).as("__bmin"))
    val gridCum = grid.withColumn("__above", minOfHigher(col("__bmin"), col("__b")))
    val survivors = bucketed
      .join(broadcast(gridCum.select(col("__b"), col("__above"))), Seq("__b"))
      .where(col("__above").isNull || y < col("__above"))
      .drop("__b", "__above")

    // stage 2: exact dominance on the survivor set
    val perX = survivors.groupBy(x.as("__x")).agg(min(y).as("__xmin"))
    val cum = perX.withColumn("__higher", minOfHigher(col("__xmin"), col("__x")))
    survivors
      .join(broadcast(cum), survivors(maxCol) === cum("__x"))
      .where(
        (col("__higher").isNull || y < col("__higher")) && y <= col("__xmin"))
      .drop("__x", "__xmin", "__higher")
  }

  /** min(`v`) over the rows of strictly higher `key`; null on the top row. */
  private def minOfHigher(v: Column, key: Column): Column =
    min(v).over(Window.orderBy(key.desc).rowsBetween(Window.unboundedPreceding, -1))
}
