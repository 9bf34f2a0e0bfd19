package graft.util

import graft.{SparkSpec, TempDirs}
import org.apache.spark.sql.AnalysisException

/** A footer-read schema is the schema Spark infers, partition columns
  * included, and a read that cannot use one keeps Spark's own errors;
  * footer row counts are the rows Spark reads. */
class ParquetFooterSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private lazy val rows = (1L to 40L).map(i =>
    (i, s"v$i", i * 0.5, 2013L - i % 2, 201301L + i % 3))
    .toDF("GlobalEventID", "Actor1Name", "GoldsteinScale", "Year", "MonthYear")

  test("flat dir: the footer schema equals spark.read.parquet's") {
    val dir = tempDir("graft_footer") + "/flat"
    rows.repartition(3).write.parquet(dir)
    assert(ParquetFooter.schema(spark, Seq(dir)).isDefined)
    val df = ParquetFooter.read(spark, dir)
    assert(df.schema == spark.read.parquet(dir).schema)
    assert(df.count() == 40L)
  }

  test("Hive Year=/MonthYear= dir: partition columns are discovered with their inferred types") {
    val dir = tempDir("graft_footer") + "/hist"
    rows.write.partitionBy("Year", "MonthYear").parquet(dir)
    val df = ParquetFooter.read(spark, dir)
    assert(df.schema == spark.read.parquet(dir).schema)
    assert(df.where($"Year" === 2013 && $"MonthYear" === 201302).count() ==
      spark.read.parquet(dir).where($"Year" === 2013 && $"MonthYear" === 201302).count())
  }

  test("row count: the footers' rows summed over every data file, partitions included") {
    val dir = tempDir("graft_footer") + "/count"
    rows.write.partitionBy("Year").parquet(dir)
    assert(ParquetFooter.rowCount(spark, Seq(dir)).contains(40L))
    assert(ParquetFooter.rowCount(spark, Seq(dir + "/nope")).isEmpty)
  }

  test("Tables.table on a fresh parquet dir reads its schema without a Spark job") {
    val sfDir = tempDir("graft_footer") + "/sf"
    rows.write.parquet(s"$sfDir/fresh.parquet")
    var df: org.apache.spark.sql.DataFrame = null
    val jobs = graft.JobCount(spark) { df = graft.Tables.table(spark, sfDir, "fresh") }
    assert(jobs == 0, s"expected 0 jobs, got $jobs")
    assert(df.schema == spark.read.parquet(s"$sfDir/fresh.parquet").schema)
  }

  test("a missing path falls back to the plain read and its error") {
    val missing = tempDir("graft_footer") + "/nope"
    assert(ParquetFooter.schema(spark, Seq(missing)).isEmpty)
    intercept[AnalysisException](ParquetFooter.read(spark, missing))
  }
}
