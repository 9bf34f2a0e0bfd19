package graft.etl

import graft.{SparkSpec, TempDirs}
import graft.schema.Gdelt
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import java.nio.file.{Files => JFiles, Paths}

/** Convert + Filter stage contract over a synthetic GDELT-shaped TSV
  * fixture (FIXTURES.md §B.1): coercion nulls, malformed-line handling,
  * Hive layout, done-markers, filter retention. */
class EtlSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private lazy val workDir = tempDir("graft_etl")

  /** One synthetic row: id, day (YYYYMMDD), quadClass ("" = null),
    * goldstein (possibly non-numeric), actor1Name. */
  private def tsvLine(id: Long, day: String, quad: String, gold: String,
                      actor: String): String = {
    val m = Map(
      "GlobalEventID" -> id.toString, "Day" -> day,
      "MonthYear" -> day.take(6), "Year" -> day.take(4),
      "FractionDate" -> s"${day.take(4)}.5", "QuadClass" -> quad,
      "GoldsteinScale" -> gold, "Actor1Name" -> actor,
      "Actor2Name" -> "ACTOR2", "NumMentions" -> "3",
      "Actor1Geo_Lat" -> "10.5", "Actor1Geo_Long" -> "-3.25",
      "Actor2Geo_Lat" -> "1.0", "Actor2Geo_Long" -> "2.0",
      "ActionGeo_Lat" -> "3.0", "ActionGeo_Long" -> "4.0",
      "DATEADDED" -> s"${day}120000", "SOURCEURL" -> "http://example.com")
    Gdelt.columns.map(c => m.getOrElse(c, "X")).mkString("\t")
  }

  private lazy val dailyTsv: String = {
    val p = Paths.get(workDir, "20130401.export.CSV")
    val lines = Seq(
      tsvLine(1, "20130401", "1", "2.5", "GOV"),
      tsvLine(2, "20130401", "2", "notanumber", "REB"), // coerce → null
      tsvLine(3, "20130401", "", "-5.0", "CIV"),        // null QuadClass
      "too\tfew\tfields",                               // short row → null-padded
      (1 to 70).map(_ => "x").mkString("\t"))           // long row → dropped
    JFiles.write(p, String.join("\n", lines: _*).getBytes)
    p.toString
  }

  private lazy val yearlyTsv: String = {
    val p = Paths.get(workDir, "1979.CSV")
    val lines = Seq(
      tsvLine(10, "19790101", "1", "1.0", "A"),
      tsvLine(11, "19790601", "2", "2.0", "B"),
      tsvLine(12, "", "3", "3.0", "C")) // null Year after coerce? no: Year from day.take(4) = "" → null
    JFiles.write(p, String.join("\n", lines: _*).getBytes)
    p.toString
  }

  test("coerce: numeric columns → double with null on failure; date-ints → long") {
    val df = Convert.coerce(Convert.readRawTsv(spark, Seq(dailyTsv)))
    assert(df.schema("GoldsteinScale").dataType == DoubleType)
    assert(df.schema("Day").dataType == LongType)
    assert(df.schema("Actor1Name").dataType == StringType)
    val rows = df.select("GlobalEventID", "GoldsteinScale", "QuadClass", "Day")
      .where(col("GlobalEventID").isNotNull)
      .collect().map(r => (r.getDouble(0), r)).toMap
    assert(rows(2.0).isNullAt(1), "notanumber must coerce to null")
    assert(rows(3.0).isNullAt(2), "empty QuadClass must be null")
    assert(rows(1.0).getLong(3) == 20130401L)
  }

  test("malformed handling: wrong-field-count rows dropped when materialized") {
    val df = Convert.readRawTsv(spark, Seq(dailyTsv))
    // 5 input lines: 3 good + 1 short + 1 long; DROPMALFORMED removes both
    // bad rows once all columns materialize (divergence from pandas, which
    // null-pads short rows — documented in Convert.readRawTsv)
    assert(df.collect().length == 3)
    // caveat under test: count() over CSV prunes all columns and counts
    // raw lines — malformed rows are still present at that stage
    assert(df.count() == 5)
  }

  test("historical write: Hive Year=/MonthYear= layout, null keys dropped, done-markers") {
    val flat = s"$workDir/flat"
    val hist = s"$workDir/hist"
    val (daily, histN, skipped, unknown) =
      Convert.run(spark, Seq(dailyTsv, yearlyTsv), flat, hist)
    assert(daily == 1 && histN == 1 && skipped == 0 && unknown == 0)
    // yearly file → Year= dirs; row 12 has null Year → dropped
    val histDf = spark.read.parquet(hist)
    assert(histDf.count() == 2)
    assert(JFiles.exists(Paths.get(hist, "Year=1979")))
    // partition column materializes back
    assert(histDf.select("Year").as[Long].collect().toSet == Set(1979L))
    // flat read has the 3 well-formed daily rows (malformed dropped at write)
    assert(spark.read.parquet(flat).count() == 3)
    // re-run: BOTH inputs skipped via .done markers (flat appends, so a
    // re-ingested daily file would duplicate rows) — flat count unchanged
    val (d2, h2, s2, _) = Convert.run(spark, Seq(dailyTsv, yearlyTsv), flat, hist)
    assert(d2 == 0 && h2 == 0 && s2 == 2)
    assert(spark.read.parquet(flat).count() == 3)
  }

  test("convert reads the configured schema.columns: a renamed SOURCEURL lands in parquet") {
    val cols = Gdelt.columns.map(c => if (c == "SOURCEURL") "source_url" else c)
    val cfg = graft.util.Config.parse(
      ("schema:" +: "  columns:" +: cols.map(c => s"    - $c")).mkString("\n"))
    val p = Paths.get(workDir, "20130402.export.CSV")
    JFiles.write(p, tsvLine(30, "20130402", "1", "1.0", "A").getBytes)
    val flat = s"$workDir/flat_cols"
    Convert.run(spark, Seq(p.toString), flat, s"$workDir/hist_cols", cfg)
    val back = spark.read.parquet(flat)
    assert(back.columns.toSeq == cols)
    assert(back.select("source_url").as[String].collect().toSeq ==
      Seq("http://example.com"))
  }

  test("unknown filenames are counted, reported, and never converted") {
    val p = Paths.get(workDir, "notes.txt")
    JFiles.write(p, "hello".getBytes)
    val (d0, h0, s0, u0) = Convert.run(spark,
      Seq(p.toString), s"$workDir/flat_u", s"$workDir/hist_u")
    assert(d0 == 0 && h0 == 0 && s0 == 0 && u0 == 1)
    assert(!JFiles.exists(Paths.get(s"$workDir/flat_u")))
  }

  test("monthly historical write: two-level Year=/MonthYear= Hive layout") {
    val p = Paths.get(workDir, "200601.CSV")
    JFiles.write(p, String.join("\n",
      tsvLine(20, "20060101", "1", "1.0", "A"),
      tsvLine(21, "20060115", "2", "2.0", "B")).getBytes)
    val hist = s"$workDir/hist_monthly"
    val (d0, h, sk, _) = Convert.run(spark, Seq(p.toString), s"$workDir/flat_m", hist)
    assert(d0 == 0 && h == 1 && sk == 0)
    assert(JFiles.exists(Paths.get(hist, "Year=2006", "MonthYear=200601")))
    val back = spark.read.parquet(hist)
    assert(back.count() == 2)
    assert(back.select("Year", "MonthYear").distinct().as[(Long, Long)]
      .collect().toSet == Set((2006L, 200601L)))
  }

  test("filter stage: drops rows with nulls in existing check cols; reports retention") {
    val flat = s"$workDir/flat2"
    Convert.writeFlat(Convert.coerce(Convert.readRawTsv(spark, Seq(dailyTsv))), flat)
    val out = s"$workDir/filtered"
    val (before, after) = FilterStage.run(spark, Seq(flat), out,
      Gdelt.defaultFilterColumns)
    assert(before == 3)
    // row2's null GoldsteinScale is NOT a check col (kept); row3's null
    // QuadClass IS (dropped)
    assert(after == 2)
    assert(spark.read.parquet(out).count() == 2)
  }

  test("convert writes max(cores, ⌈bytes / 128 MiB⌉) flat files, not one per read split") {
    // two ~1.4 MB daily files: 512 KB read splits give 6 scan partitions,
    // more than the session's cores
    val files = Seq("20130405", "20130406").map { day =>
      val p = Paths.get(workDir, s"$day.export.CSV")
      JFiles.write(p, (1 to 6000).map(i => tsvLine(day.toLong * 10000 + i,
        day, (i % 4 + 1).toString, s"${i % 10}.5", s"ACTOR$i"))
        .mkString("\n").getBytes)
      p.toString
    }
    val bytes = files.map(f => JFiles.size(Paths.get(f))).sum
    val cores = spark.sparkContext.defaultParallelism
    val raw = Convert.coerce(Convert.readRawTsv(spark, files))
    assert(raw.rdd.getNumPartitions > cores)
    val flat = s"$workDir/flat_sized"
    Convert.run(spark, files, flat, s"$workDir/hist_sized")
    val written = new java.io.File(flat).list().count(_.endsWith(".parquet"))
    val target = 128L * 1024 * 1024
    assert(written == math.max(cores, ((bytes + target - 1) / target).toInt),
      s"$written files for $bytes bytes on $cores cores")
    def digest(df: org.apache.spark.sql.DataFrame) =
      df.agg(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*)),
        count(lit(1))).head()
    assert(digest(spark.read.parquet(flat)) == digest(raw))
  }

  test("filter stage runs one Spark job: its read infers no schema") {
    val flat = s"$workDir/flat_jobs"
    Convert.writeFlat(Convert.coerce(Convert.readRawTsv(spark, Seq(dailyTsv))), flat)
    val jobs = graft.JobCount(spark) {
      FilterStage.run(spark, Seq(flat), s"$workDir/filtered_jobs",
        Gdelt.defaultFilterColumns)
    }
    assert(jobs == 1, s"expected 1 job, got $jobs")
  }

  test("filter stage: missing check columns no-op (pass-through)") {
    val df = Seq((1, "a"), (2, null)).toDF("id", "s")
    assert(FilterStage.dropNullRows(df, Seq("NotThere")).count() == 2)
    assert(FilterStage.dropNullRows(df, Seq("s", "NotThere")).count() == 1)
  }
}
