package graft.cli

import graft.{SparkSpec, TempDirs}
import graft.schema.Gdelt
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import java.nio.file.{Files => JFiles, Paths}

/** End-to-end GDELT volume drill (round-5 verdict #8): ONE CLI invocation
  * chains the raw read → type-routed convert (flat ∪ Hive tree) →
  * day-range re-read (Hive side partition-pruned) → null-check filter →
  * daily sample, over a multi-day fixture mixing daily and monthly files.
  */
class PipelineSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  /** One 58-field TSV line; numeric/filter columns are parseable, the
    * rest carry opaque strings. `a1` empties Actor1Name (nulls after read,
    * so the filter stage drops the row). */
  private def line(id: Long, day: Long, a1: String = "actor"): String =
    Gdelt.columns.map {
      case "GlobalEventID" => id.toString
      case "Day" => day.toString
      case "MonthYear" => (day / 100).toString
      case "Year" => (day / 10000).toString
      case "FractionDate" => "2013.2500"
      case "Actor1Name" => a1
      case "Actor2Name" => s"other$id"
      case "QuadClass" => ((id % 4) + 1).toString
      case "GoldsteinScale" => "2.5"
      case "NumMentions" | "NumSources" | "NumArticles" => "3"
      case "AvgTone" => "1.25"
      case "IsRootEvent" => "1"
      case c if c.endsWith("Geo_Lat") => "10.5"
      case c if c.endsWith("Geo_Long") => "-20.25"
      case c if c.endsWith("Geo_Type") => "1"
      case "DATEADDED" => day.toString
      case c => s"$c-$id"
    }.mkString("\t")

  private lazy val rawDir = {
    val d = tempDir("graft_pipe_raw")
    def write(name: String, lines: Seq[String]): Unit =
      JFiles.write(Paths.get(d, name), lines.mkString("\n").getBytes)
    // three daily files; one row on 0401 has an empty Actor1Name → filtered
    write("20130401.export.CSV",
      (1L to 5L).map(i => line(i, 20130401L)) :+ line(6L, 20130401L, a1 = ""))
    write("20130402.export.CSV", (11L to 15L).map(i => line(i, 20130402L)))
    write("20130403.export.CSV", (21L to 25L).map(i => line(i, 20130403L)))
    // one monthly file (Hive tree): days in 201303
    write("201303.csv", (31L to 38L).map(i => line(i, 20130301L + (i % 3))))
    d
  }

  test("one pipeline invocation: raw read, typed flat+hive sinks, pruned re-read, filter, daily sample") {
    val work = tempDir("graft_pipe_out")
    Main.main(Array("pipeline", "--in", rawDir, "--out", work,
      "--start-day", "20130401", "--end-day", "20130402",
      "--per-day", "2", "--seed", "7"))

    // the converted flat dataset carries the typed 58-column schema
    val flat = spark.read.parquet(s"$work/flat")
    assert(flat.schema.fieldNames.toSeq == Gdelt.columns)
    assert(flat.schema("Day").dataType == LongType)
    assert(flat.schema("GoldsteinScale").dataType == DoubleType)
    assert(flat.count() == 16, "3 daily files x rows, incl. the null-actor row")

    // the Hive tree got the monthly rows under Year=/MonthYear=
    assert(JFiles.exists(Paths.get(s"$work/hist/Year=2013/MonthYear=201303")))

    // filter dropped the null-actor row; day range excluded 0403 + monthly
    val filtered = spark.read.parquet(s"$work/filtered")
    assert(filtered.select("Day").as[Long].collect().toSet == Set(20130401L, 20130402L))
    assert(filtered.where(col("Day") === 20130401L).count() == 5,
      "empty Actor1Name row must be dropped by the check-column filter")

    // daily sample: at most per-day rows for each surviving day
    val sample = spark.read.parquet(s"$work/sample")
    val byDay = sample.groupBy("Day").count()
      .as[(Long, Long)].collect().toMap
    assert(byDay.keySet == Set(20130401L, 20130402L))
    assert(byDay.values.forall(_ == 2))
  }

  test("pipeline: filtered_rows comes from the filter write's observation, not a re-scan") {
    val work = tempDir("graft_pipe_jobs")
    val jobs = graft.JobCount(spark) {
      Main.main(Array("pipeline", "--in", rawDir, "--out", work,
        "--start-day", "20130401", "--end-day", "20130402",
        "--per-day", "2", "--seed", "7"))
    }
    // the kept-row and sampled-row counts come from the filter and sample
    // writes' observations, not re-scans of their outputs (2 more jobs each)
    assert(jobs == 5, s"expected 5 jobs, got $jobs")
  }

  test("pipeline: an unrecognized file in --in is named and counted as unknown=1; outputs unchanged") {
    val withNotes = tempDir("graft_pipe_raw_notes")
    JFiles.list(Paths.get(rawDir)).forEach(f =>
      JFiles.copy(f, Paths.get(withNotes, f.getFileName.toString)))
    JFiles.write(Paths.get(withNotes, "notes.txt"), "not a GDELT file\n".getBytes)
    def run(in: String, out: String): (String, String) = {
      val stdout = new java.io.ByteArrayOutputStream
      val stderr = new java.io.ByteArrayOutputStream
      val err = System.err
      System.setErr(new java.io.PrintStream(stderr, true))
      try Console.withOut(stdout) {
        Main.main(Array("pipeline", "--in", in, "--out", out,
          "--start-day", "20130401", "--end-day", "20130402",
          "--per-day", "2", "--seed", "7"))
      } finally System.setErr(err)
      (stdout.toString, stderr.toString)
    }
    val plain = tempDir("graft_pipe_plain")
    val noted = tempDir("graft_pipe_noted")
    val (plainOut, _) = run(rawDir, plain)
    val (notedOut, notedErr) = run(withNotes, noted)
    assert(plainOut.contains(" unknown=0 "), plainOut)
    assert(notedOut.contains(" unknown=1 "), notedOut)
    assert(notedErr.contains("notes.txt"), s"notes.txt not named on stderr:\n$notedErr")
    for (sub <- Seq("flat", "filtered", "sample")) {
      def rows(base: String) = spark.read.parquet(s"$base/$sub")
        .collect().map(_.toString).sorted.toSeq
      assert(rows(noted) == rows(plain), s"$sub differs with notes.txt present")
    }
  }

  test("convert and pipeline write the same flat rows from raw input with a short row") {
    // one daily file: three full rows and one short row, which the raw
    // reader's full-width arity check drops in both commands
    val raw = tempDir("graft_pipe_short")
    val file = Paths.get(raw, "20130401.export.CSV")
    JFiles.write(file, ((1L to 3L).map(i => line(i, 20130401L)) :+ "short\trow")
      .mkString("\n").getBytes)
    val piped = tempDir("graft_pipe_short_out")
    Main.main(Array("pipeline", "--in", raw, "--out", piped,
      "--start-day", "20130401", "--end-day", "20130401", "--per-day", "2"))
    val converted = tempDir("graft_pipe_short_conv")
    Main.main(Array("convert", "--in", file.toString,
      "--flat-out", s"$converted/flat", "--hist-out", s"$converted/hist"))
    val pipeRows = spark.read.parquet(s"$piped/flat").count()
    val convRows = spark.read.parquet(s"$converted/flat").count()
    assert(pipeRows == convRows, s"pipeline wrote $pipeRows flat rows, convert $convRows")
    assert(convRows == 3L)
  }

  test("a re-run into the same --out replaces flat and hist instead of appending") {
    val work = tempDir("graft_pipe_rerun")
    def run(): (Long, Long, Long) = {
      Main.main(Array("pipeline", "--in", rawDir, "--out", work,
        "--start-day", "20130301", "--end-day", "20130402",
        "--per-day", "2", "--seed", "7"))
      (spark.read.parquet(s"$work/flat").count(),
        spark.read.parquet(s"$work/hist").count(),
        spark.read.parquet(s"$work/filtered").count())
    }
    val first = run()
    val second = run()
    assert(second._1 == 16, s"flat must hold the 16 daily rows once, got ${second._1}")
    assert(second == first, s"re-run changed the outputs: $first -> $second")
  }

  test("a day range inside the monthly period samples the Hive side; pruning reaches PartitionFilters") {
    val work = tempDir("graft_pipe_out2")
    Main.main(Array("pipeline", "--in", rawDir, "--out", work,
      "--start-day", "20130301", "--end-day", "20130331",
      "--per-day", "3", "--seed", "7"))
    val sample = spark.read.parquet(s"$work/sample")
    assert(sample.select("Day").as[Long].collect()
      .forall(d => d >= 20130301L && d <= 20130303L))
    assert(sample.count() > 0)

    // the pruned Hive scan: partition predicates reach PartitionFilters
    val pruned = spark.read.parquet(s"$work/hist")
      .where(col("Year").between(2013, 2013) &&
        col("MonthYear").between(201303, 201303))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("MonthYear"),
      s"expected MonthYear partition filters in:\n$plan")
    // and a disjoint range prunes every partition without touching data
    val none = spark.read.parquet(s"$work/hist")
      .where(col("Year").between(2014, 2014) &&
        col("MonthYear").between(201401, 201401))
    assert(none.count() == 0)
  }

  test("error contract: start-day after end-day is rejected before any job") {
    intercept[IllegalArgumentException] {
      Main.main(Array("pipeline", "--in", rawDir, "--out", "/tmp/nope",
        "--start-day", "20130402", "--end-day", "20130401"))
    }
  }
}
