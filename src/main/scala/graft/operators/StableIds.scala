package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame}
import scala.reflect.ClassTag

/** Stable global row-id assignment — a training-data-pipeline staple
  * (shard-stable example ids), built the scalable way.
  *
  * The naive `row_number() OVER (ORDER BY …)` forces ALL rows through a
  * single partition — a non-starter at 100 TB. This operator instead
  * range-partitions by the ordering key, sorts within partitions, and uses
  * RDD `zipWithIndex` (one extra job to count per-partition sizes, then
  * offsets are added map-side) — two passes, fully parallel, identical
  * ids to the window formulation when the ordering key is unique.
  */
object StableIds {

  /** Append a dense 0-based `id` column following `orderCols` order.
    * Requires a unique ordering key for a deterministic assignment.
    *
    * Plan-native zipWithIndex (opt r13, guide §4): the previous
    * implementation dropped to `sorted.rdd.zipWithIndex()` +
    * `createDataFrame(Row…)`, which (a) converts every row
    * InternalRow → external Row → InternalRow outside codegen, (b) runs
    * zipWithIndex's extra counting job plus a full recompute of the sort
    * for the value pass, and (c) leaves the downstream plan opaque to
    * column pruning. This version stays in the DataFrame engine: range
    * partition + in-partition sort are materialized ONCE (the counts
    * pass pins layout and ids in the localCheckpoint's blocks, which the
    * id pass reads), `monotonically_increasing_id()`
    * supplies the in-partition index ((pid << 33) + idx — its documented
    * construction), and the per-partition row counts (one long per
    * partition, collected like the old stats pass) broadcast back as
    * exclusive prefix offsets. Identical ids: range partitions are
    * key-ordered and the in-partition sort is the same, so offset + idx
    * reproduces the global sequence. */
  def assignIds(df: DataFrame, orderCols: Seq[Column],
                idCol: String = "id"): DataFrame = {
    requireNew(df, Seq(idCol))
    import org.apache.spark.sql.functions._
    val pidC = "__sid_pid"
    val midC = "__sid_mid"
    for (c <- Seq(pidC, midC))
      require(!df.columns.contains(c), s"column '$c' is reserved")
    val sorted = rangeSorted(df, orderCols)
      .withColumn(pidC, spark_partition_id())
      .withColumn(midC, monotonically_increasing_id())
      .localCheckpoint(false)
    // per-partition row counts to the driver — one long per partition,
    // the same metadata round-trip the RDD form's stats pass made —
    // then the exclusive prefix sums rejoin as a broadcast local
    // relation (never a window: the no-global-window contract stays
    // assertable on the plan)
    val counts = sorted.groupBy(pidC).agg(count(lit(1)).as("__sid_n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offs = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _))
      .toSeq
    val spark = df.sparkSession
    import spark.implicits._
    val offsDf = offs.toDF(pidC, "__sid_off")
    sorted.join(broadcast(offsDf), pidC)
      .withColumn(idCol,
        col(midC) - shiftleft(col(pidC).cast("long"), 33) + col("__sid_off"))
      .drop(pidC, midC, "__sid_off")
  }

  /** 1-based global rank in `orderCols` order — the drop-in replacement for
    * `row_number() OVER (ORDER BY …)` that does NOT funnel the table through
    * one window partition. Identical values to the window form when the
    * ordering key is unique. */
  def withRank(df: DataFrame, orderCols: Seq[Column],
               rankCol: String): DataFrame = {
    val zero = "__rank0"
    require(!df.columns.contains(zero), s"column '$zero' is reserved")
    assignIds(df, orderCols, zero)
      .withColumn(rankCol,
        org.apache.spark.sql.functions.col(zero) + 1L)
      .drop(zero)
  }

  /** Inclusive global running MAX of each `valueCol` (LongType) in
    * `orderCols` order — the scalable form of
    * `max() OVER (ORDER BY … ROWS UNBOUNDED PRECEDING)`.
    *
    * The motivating use is event-time lateness measurement over an
    * arrival-ordered stream (running max of event time vs each event's own
    * time = how stale the event was on arrival — the statistic a streaming
    * watermark is sized from), where the arrival order spans the whole
    * corpus and a global window would funnel it through one task. Same
    * two-phase shape as [[rankAndCumSums]]: range-partition + in-partition
    * sort on ONE materialized RDD, a metadata job collecting the
    * per-partition max (k longs per partition to the driver), exclusive
    * prefix maxes seeded with Long.MinValue, then a map-side scan. */
  def runningMaxes(df: DataFrame, orderCols: Seq[Column],
                   valueCols: Seq[(String, String)]): DataFrame = {
    val vIdx = valueCols.map { case (v, _) => df.schema.fieldIndex(v) }
    val vName = valueCols.map(_._1)
    val k = vIdx.length
    appendScan(df, orderCols, valueCols.map(_._2)) { it =>
      val m = Array.fill(k)(Long.MinValue)
      it.foreach { r =>
        var j = 0
        while (j < k) {
          requireNonNull(r, vIdx(j), "runningMaxes", vName(j))
          m(j) = math.max(m(j), r.getLong(vIdx(j)))
          j += 1
        }
      }
      m
    } { stats =>
      // exclusive prefix max per partition (what all EARLIER partitions saw)
      val maxOff = Array.tabulate(k) { j =>
        stats.map(_(j)).scanLeft(Long.MinValue)(math.max)
      }
      pid => {
        val run = Array.tabulate(k)(j => maxOff(j)(pid))
        (r, extra) => {
          var j = 0
          while (j < k) {
            run(j) = math.max(run(j), r.getLong(vIdx(j)))
            extra.update(j, run(j))
            j += 1
          }
        }
      }
    }
  }

  /** 1-based global rank (`rank`) AND an inclusive running sum for EACH
    * (valueCol -> cumCol) pair (LongType values) in `orderCols` order — the
    * scalable form of `row_number()` plus k parallel
    * `sum() OVER (ORDER BY … ROWS UNBOUNDED PRECEDING)` windows. Two-sample
    * ECDF statistics (KS distance, AUC rank-sums) need the running counts of
    * BOTH classes in one score order; funneling the score domain through a
    * single window partition twice is the exact anti-pattern this avoids.
    *
    * Same two-phase shape as [[Packing.packByBudget]]: range-partition +
    * in-partition sort, one metadata job collecting k+1 longs per partition
    * (row count, per-value sum) to the driver, then a map-side scan seeded
    * with the broadcast exclusive offsets. Both passes are pinned to ONE
    * materialized RDD so AQE cannot coalesce them to different partition
    * counts (the Packing offset-misalignment lesson, 87c3e20). */
  def rankAndCumSums(df: DataFrame, orderCols: Seq[Column],
                     valueCols: Seq[(String, String)]): DataFrame = {
    val vIdx = valueCols.map { case (v, _) => df.schema.fieldIndex(v) }
    val vName = valueCols.map(_._1)
    val k = vIdx.length
    appendScan(df, orderCols, "rank" +: valueCols.map(_._2)) { it =>
      var n = 0L; val s = Array.fill(k)(0L)
      it.foreach { r =>
        n += 1L
        var j = 0
        while (j < k) {
          requireNonNull(r, vIdx(j), "rankAndCumSums", vName(j))
          s(j) += r.getLong(vIdx(j))
          j += 1
        }
      }
      (n, s)
    } { stats =>
      val cntOff = stats.map(_._1).scanLeft(0L)(_ + _)
      val sumOff = Array.tabulate(k) { j =>
        stats.map(_._2(j)).scanLeft(0L)(_ + _)
      }
      pid => {
        var rk = cntOff(pid)
        val run = Array.tabulate(k)(j => sumOff(j)(pid))
        (r, extra) => {
          rk += 1L
          extra.update(0, rk)
          var j = 0
          while (j < k) {
            run(j) += r.getLong(vIdx(j))
            extra.update(j + 1, run(j))
            j += 1
          }
        }
      }
    }
  }

  /** Fail when `df` already holds any of the output columns `cols`. */
  private def requireNew(df: DataFrame, cols: Seq[String]): Unit =
    for (c <- cols)
      require(!df.columns.contains(c), s"column '$c' already exists")

  /** `df` range-partitioned by `orderCols` and sorted within partitions. */
  private def rangeSorted(df: DataFrame, orderCols: Seq[Column]): DataFrame =
    df.repartitionByRange(orderCols: _*).sortWithinPartitions(orderCols: _*)

  /** The two-phase InternalRow scan (opt r14, guide §4 / VERDICT r13 #4)
    * behind [[runningMaxes]], [[rankAndCumSums]] and
    * [[Packing.packByBudget]]: `df` in `orderCols` order (range-partitioned,
    * sorted within partitions) with the non-null LongType columns `newCols`
    * appended. Pass 1 summarizes each partition with `stat`; `seed` turns
    * the summaries, in partition order, into each partition's row writer,
    * which sets a row's appended values in `extra`. `toRdd` reads the
    * unsafe rows in place (`.rdd` deserialized EVERY row to an external
    * Row), and the JoinedRow of pass 2 is projected to unsafe format by the
    * downstream scan node (one projection per row, total). Both passes run
    * over the SAME materialized RDD so AQE cannot re-coalesce them to
    * different partition layouts (the Packing lesson, 87c3e20). */
  private[operators] def appendScan[S: ClassTag](df: DataFrame,
      orderCols: Seq[Column], newCols: Seq[String])(
      stat: Iterator[InternalRow] => S)(
      seed: Array[S] => Int => (InternalRow, GenericInternalRow) => Unit)
      : DataFrame = {
    requireNew(df, newCols)
    val sorted = rangeSorted(df, orderCols)
    val rdd = sorted.queryExecution.toRdd
    val stats = rdd.mapPartitionsWithIndex((pid, it) => Iterator((pid, stat(it))))
      .collect().sortBy(_._1).map(_._2)
    val writer = seed(stats)
    val n = newCols.length
    val outSchema = StructType(sorted.schema.fields ++
      newCols.map(StructField(_, LongType, nullable = false)))
    val rows = rdd.mapPartitionsWithIndex { (pid, it) =>
      val write = writer(pid)
      val extra = new GenericInternalRow(n)
      val joined = new JoinedRow
      it.map { r =>
        write(r, extra)
        // safe to reuse r/extra: the scan node's per-row unsafe projection
        // copies before this iterator advances (row-at-a-time pipeline)
        joined(r, extra): InternalRow
      }
    }
    org.apache.spark.sql.GraftColumnBridge
      .internalCreateDataFrame(sorted.sparkSession, rows, outSchema)
  }

  /** First-pass guard of the two-phase scans: `InternalRow.getLong` reads
    * a NULL as 0, which would silently shift every later offset, so a null
    * value fails the job instead, naming the column. */
  private[operators] def requireNonNull(r: InternalRow, idx: Int, op: String,
                                        column: String): Unit =
    if (r.isNullAt(idx))
      throw new IllegalArgumentException(
        s"$op: column '$column' holds a NULL; its values must be non-null")
}
