package graft.etl

import graft.{SparkSpec, TempDirs}
import org.apache.spark.sql.functions._

/** Write-side layout contract: range-partitioned sorted writes produce
  * files with disjoint key ranges (the property parquet min/max skipping
  * needs); zorder2 interleaves bits correctly and clusters both dims. */
class LayoutSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  test("writeSorted: per-file key ranges are disjoint and cover the data") {
    val out = tempDir("graft_layout") + "/t"
    val df = graft.Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    Layout.writeSorted(df, Seq(col("l_orderkey")), out, targetFiles = 4)

    val files = spark.read.parquet(out).inputFiles.sorted
    assert(files.length >= 3, s"expected several files, got ${files.length}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("l_orderkey"), max("l_orderkey"), count(lit(1)))
        .as[(Long, Long, Long)].head()
      r
    }.sortBy(_._1)
    // disjoint: each file's max < next file's min
    ranges.sliding(2).foreach {
      case Array((_, hi, _), (lo2, _, _)) => assert(hi <= lo2,
        s"overlapping file ranges: max=$hi vs next min=$lo2")
      case _ =>
    }
    // nothing lost
    assert(ranges.map(_._3).sum == df.count())
  }

  test("compact bin-packs small files, preserves rows, no-ops when compact") {
    val dir = tempDir("graft_compact") + "/t"
    val df = graft.Tables.lineitem(spark, sf)
    df.repartition(16).write.parquet(dir)
    val rows = df.count()
    val bytes = spark.read.parquet(dir).inputFiles.length // 16 small files
    assert(bytes >= 16)
    val (before, after) = Layout.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(before >= 16 && after == 1, s"before=$before after=$after")
    assert(spark.read.parquet(dir).count() == rows)
    // already compact → no rewrite
    assert(Layout.compact(spark, dir, 512L * 1024 * 1024) == ((1, 1)))
  }

  test("zorder2 interleaves bits (known values) and rejects nothing silently") {
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 5L),
        ((1L << 31) - 1, 0L))
      .toDF("x", "y")
      .select(Layout.zorder2(col("x"), col("y")).as("z"))
      .as[Long].collect()
    assert(out(0) == 0L)
    assert(out(1) == 1L)  // x bit 0 → position 0
    assert(out(2) == 2L)  // y bit 0 → position 1
    assert(out(3) == 3L)
    // x=3 (011), y=5 (101): z = interleave = y2 x2 y1 x1 y0 x0 = 100111 = 39
    assert(out(4) == 39L)
    assert(out(5) == 0x1555555555555555L) // 31 x-bits at even positions
  }

  test("z-order clustering bounds both dimensions per file") {
    val out = tempDir("graft_layout") + "/z"
    // 64x64 grid, one row per cell, written as 16 z-clustered files
    val grid = spark.range(64L * 64)
      .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
      .withColumn("z", Layout.zorder2(col("x"), col("y")))
    Layout.writeSorted(grid, Seq(col("z")), out, targetFiles = 16)
    val files = spark.read.parquet(out).inputFiles
    // each of the 16 files should cover a bounded sub-square of the grid:
    // z-clustering keeps per-file x and y spans near 16 (vs 64 for a
    // row-major sort's y span)
    val spans = files.map { f =>
      val (xlo, xhi, ylo, yhi) = spark.read.parquet(f)
        .agg(min("x"), max("x"), min("y"), max("y"))
        .as[(Long, Long, Long, Long)].head()
      (xhi - xlo, yhi - ylo)
    }
    assert(spans.forall { case (xs, ys) => xs <= 32 && ys <= 32 },
      s"z-clustered files must bound both dims; got spans ${spans.mkString(",")}")
  }
}
