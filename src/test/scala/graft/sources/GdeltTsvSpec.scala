package graft.sources

import graft.{SparkSpec, TempDirs}
import graft.schema.Gdelt
import org.apache.spark.sql.functions._
import java.nio.file.{Files => JFiles, Paths}

class GdeltTsvSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private lazy val dir = {
    val d = tempDir("graft_dsv2")
    def line(id: Long, day: String) = Gdelt.columns.map {
      case "GlobalEventID" => id.toString
      case "Day" => day
      case "Actor1Name" => if (id % 2 == 0) "" else s"actor$id" // empty → null
      case c => s"$c-$id"
    }.mkString("\t")
    // a short row (null-padded, kept) and an over-length row (dropped);
    // the CSV-reader path agrees on them only for column-pruned reads
    JFiles.write(Paths.get(d, "a.tsv"),
      (Seq(line(1, "20130401"), line(2, "20130401"), "short\trow") :+
        (line(4, "20130403") + "\textra"))
        .mkString("\n").getBytes)
    // a blank line mid-file: the CSV reader never emits a record for it,
    // so the connector must skip it too (not produce an all-null row)
    JFiles.write(Paths.get(d, "b.tsv"),
      Seq(line(3, "20130402"), "", line(5, "20130402")).mkString("\n").getBytes)
    d
  }

  test("DSv2 scan matches the CSV-reader path row for row") {
    val v2 = spark.read.format("gdelt-tsv").load(dir)
    val v1 = graft.etl.Convert.readRawTsv(spark,
      Seq(s"$dir/a.tsv", s"$dir/b.tsv"))
    assert(v2.schema == v1.schema, "schema injection must match rawSchema")
    val k = Seq("GlobalEventID", "Day", "Actor1Name", "SOURCEURL")
    // the CSV reader's DROPMALFORMED is projection-DEPENDENT (univocity
    // only flags excess tokens it actually parses, so pruned reads keep
    // over-length rows); the connector is strict regardless of
    // projection. Compare on the rows where the two contracts agree,
    // then pin the connector's strict behavior explicitly
    def comparable(df: org.apache.spark.sql.DataFrame) =
      df.select(k.map(col): _*)
        .where(col("GlobalEventID") =!= "4" || col("GlobalEventID").isNull)
        .orderBy("GlobalEventID")
    assert(comparable(v2).collect().toSeq == comparable(v1).collect().toSeq)
    assert(v2.where(col("GlobalEventID") === "short").count() == 1,
      "short rows null-pad, as in a column-pruned CSV read")
    // full width, the CSV reader's arity check sees every field and drops
    // the short row; the connector keeps it, whatever the projection
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getString(0)).toSet
    assert(!ids(v1).contains("short"),
      "a full-width CSV read drops short rows")
    assert(ids(v2).contains("short"),
      "the connector null-pads short rows at full width too")
    assert(v2.where(col("GlobalEventID") === "4").count() == 0,
      "over-length rows are malformed and dropped regardless of projection")
    assert(v2.where(col("Actor1Name").isNull).count() ==
      v1.where(col("Actor1Name").isNull &&
        (col("GlobalEventID") =!= "4" || col("GlobalEventID").isNull)).count())
  }

  test("column pruning reaches the reader: ReadSchema shrinks to the projection") {
    val df = spark.read.format("gdelt-tsv").load(dir)
      .select("Day").where(col("Day") === "20130401")
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .mkString("\n")
    assert(scan.contains("ReadSchema: struct<Day:string>"),
      s"expected pruned 1-column ReadSchema, got:\n$scan")
    assert(df.as[String].collect().sorted.toSeq == Seq("20130401", "20130401"))
  }

  test("per-file partitions: one task per input file") {
    val df = spark.read.format("gdelt-tsv").load(dir)
    assert(df.rdd.getNumPartitions == 2, "expected one partition per file")
  }

  test("missing path is rejected before any job runs") {
    intercept[IllegalArgumentException] {
      spark.read.format("gdelt-tsv").load(s"$dir/nope").collect()
    }
  }

  test("blank lines are skipped, matching the CSV reader's row count") {
    val v2 = spark.read.format("gdelt-tsv").load(s"$dir/b.tsv")
    val v1 = graft.etl.Convert.readRawTsv(spark, Seq(s"$dir/b.tsv"))
    assert(v2.count() == 2 && v1.count() == 2,
      "both paths must skip the blank line")
    assert(v2.where(col("GlobalEventID").isNull).count() == 0,
      "a blank line must not surface as an all-null row")
  }

  test("glob patterns resolve through the Hadoop FileSystem API") {
    val glob = spark.read.format("gdelt-tsv").load(s"$dir/*.tsv")
    val plain = spark.read.format("gdelt-tsv").load(dir)
    assert(glob.count() == plain.count())
    assert(glob.select("GlobalEventID").as[String].collect().sorted.toSeq ==
      plain.select("GlobalEventID").as[String].collect().sorted.toSeq)
  }

  private def scanDesc(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().map(_.toString)
      .mkString("\n")

  test("date-int filter pushdown: plan shows pushed filters, reader skips rows") {
    // r11 verdict #5: a Day range on the custom source must reach the
    // reader and skip row materialization. Two out-of-range rows (ids
    // 1,2 @ 20130401) are skipped PRE-materialization — the named
    // accumulator counts exactly them; the null-padded "short" row
    // (Day = "row") survives the binary-order compare, matching the
    // CSV path's string semantics row for row.
    val v2 = spark.read.format("gdelt-tsv").load(dir)
      .where(col("Day") >= "20130402")
    val plan = scanDesc(v2)
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThanOrEqual(Day,20130402)"),
      s"expected the Day range in PushedFilters, got:\n$plan")
    val got = v2.select("GlobalEventID").as[String].collect().sorted.toSeq
    assert(got == Seq("3", "5", "short"))
    assert(GdeltTsv.lastSkippedRows.contains(2L),
      s"expected 2 pre-materialization row skips, got ${GdeltTsv.lastSkippedRows}")
    // CSV-reader baseline under the identical predicate, minus the
    // over-length row id 4 where the two malformation contracts
    // deliberately diverge (the CSV parser's DROPMALFORMED is
    // projection-dependent — documented in the row-for-row test above)
    val v1 = graft.etl.Convert.readRawTsv(spark,
        Seq(s"$dir/a.tsv", s"$dir/b.tsv"))
      .where(col("Day") >= "20130402" && col("GlobalEventID") =!= "4")
      .select("GlobalEventID").as[String].collect().sorted.toSeq
    assert(got == v1)
  }

  test("pushdown vocabulary: non-date columns stay residual-only") {
    val df = spark.read.format("gdelt-tsv").load(dir)
      .where(col("Actor1Name") === "actor1" && col("Day") === "20130401")
    val plan = scanDesc(df)
    assert(plan.contains("EqualTo(Day,20130401)"),
      s"Day equality should push:\n$plan")
    assert(!plan.contains("EqualTo(Actor1Name"),
      s"Actor1Name must not enter PushedFilters:\n$plan")
    assert(df.select("GlobalEventID").as[String].collect().toSeq == Seq("1"))
  }

  test("filename-period pruning: a date-ranged scan plans fewer FILES") {
    // r12 verdict #2: the archive layout carries each file's period in
    // its name — a pushed Day range must drop whole files at planning
    // time, before any task launches
    val d = tempDir("graft_dsv2_prune")
    def line(id: Long, day: String) = Gdelt.columns.map {
      case "GlobalEventID" => id.toString
      case "Day" => day
      case c => s"$c-$id"
    }.mkString("\t")
    JFiles.write(Paths.get(d, "20130401.export.CSV"),
      Seq(line(1, "20130401"), line(2, "20130401")).mkString("\n").getBytes)
    JFiles.write(Paths.get(d, "20130403.export.CSV"),
      Seq(line(3, "20130403")).mkString("\n").getBytes)
    JFiles.write(Paths.get(d, "201305.csv"), // monthly period: May 2013
      Seq(line(4, "20130515")).mkString("\n").getBytes)
    JFiles.write(Paths.get(d, "noperiod.tsv"), // unparseable: never pruned
      Seq(line(5, "20130520")).mkString("\n").getBytes)

    val ranged = spark.read.format("gdelt-tsv").load(d)
      .where(col("Day") >= "20130402" && col("Day") <= "20130430")
    assert(ranged.select("GlobalEventID").as[String].collect().sorted.toSeq
      == Seq("3"))
    assert(GdeltTsv.lastFilesPruned == 2L, // 20130401 daily + 201305 monthly
      s"expected 2 files pruned, got ${GdeltTsv.lastFilesPruned}")
    assert(GdeltTsv.lastFilesPlanned == 2L, // 20130403 + the unparseable
      s"expected 2 files planned, got ${GdeltTsv.lastFilesPlanned}")

    // Year-level predicate prunes via the filename's year bounds too
    val byYear = spark.read.format("gdelt-tsv").load(d)
      .where(col("Year") === "2014")
    assert(byYear.count() == 0L)
    assert(GdeltTsv.lastFilesPruned == 3L && GdeltTsv.lastFilesPlanned == 1L)
  }

  test("size estimate: sizeInBytes is the bytes of the files kept after filename pruning") {
    val d = tempDir("graft_dsv2_size")
    def line(id: Long, day: String) = Gdelt.columns.map {
      case "GlobalEventID" => id.toString
      case "Day" => day
      case c => s"$c-$id"
    }.mkString("\t")
    val sizes = Seq("20130401", "20130402", "20130403").zipWithIndex.map {
      case (day, i) =>
        val p = Paths.get(d, s"$day.export.CSV")
        JFiles.write(p, (0 to i).map(j => line(i * 10L + j, day))
          .mkString("\n").getBytes)
        day -> JFiles.size(p)
    }.toMap
    def size(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.collectLeaves().head.stats.sizeInBytes
    val all = spark.read.format("gdelt-tsv").load(d)
    assert(size(all) == sizes.values.sum)
    val ranged = all.where(col("Day") >= "20130402")
    assert(size(ranged) == sizes("20130402") + sizes("20130403"))
    assert(ranged.count() == 5L)
    assert(GdeltTsv.lastFilesPruned == 1L && GdeltTsv.lastFilesPlanned == 2L)
  }

  test("offset splits: a giant file reads through >1 partition, results unchanged") {
    // r12 verdict #7: past maxSplitBytes a file splits into line-aligned
    // byte ranges (LineRecordReader ownership convention), so one
    // multi-GB historical file never serializes onto a single task
    val d = tempDir("graft_dsv2_split")
    def line(id: Long) = Gdelt.columns.map {
      case "GlobalEventID" => id.toString
      case "Day" => "20130401"
      case "Actor1Name" => if (id % 7 == 0) "" else s"actor$id"
      case c => s"$c-$id"
    }.mkString("\t")
    val rows = (1L to 4000L).map(line)
    JFiles.write(Paths.get(d, "big.tsv"), rows.mkString("\n").getBytes)
    val whole = spark.read.format("gdelt-tsv").load(d)
    val split = spark.read.format("gdelt-tsv")
      .option("maxSplitBytes", "65536").load(d)
    assert(whole.rdd.getNumPartitions == 1)
    assert(split.rdd.getNumPartitions > 4,
      s"expected >4 offset splits, got ${split.rdd.getNumPartitions}")
    assert(split.count() == 4000L && whole.count() == 4000L)
    // byte-identical row set across the split boundaries (ids are unique
    // so a lost/duplicated boundary line can't cancel out)
    val a = split.select("GlobalEventID").as[String].collect().sorted.toSeq
    val b = whole.select("GlobalEventID").as[String].collect().sorted.toSeq
    assert(a == b)
    // null semantics and projection survive splitting
    assert(split.where(col("Actor1Name").isNull).count() ==
      whole.where(col("Actor1Name").isNull).count())
    // pushed row-filters compose with splits
    val f = split.where(col("Day") === "20130401")
    assert(f.count() == 4000L)
  }

  test("the gated q_gdelt_tsv_scan row engages filename pruning in-plan") {
    // the oracle row (round 13) must actually exercise the planning-time
    // file drop, or the gate proves parsing but not pruning: the events
    // fixture spans ~30 days, the query's window keeps 15
    val rows = graft.SparkEntry.queries("q_gdelt_tsv_scan")(spark, sf)
      .collect()
    assert(rows.length == 15, s"expected 15 day rows, got ${rows.length}")
    assert(GdeltTsv.lastFilesPlanned == 15L,
      s"expected 15 daily files planned, got ${GdeltTsv.lastFilesPlanned}")
    assert(GdeltTsv.lastFilesPruned > 0L,
      "the 15-day range must prune out-of-range daily files at planning")
    graft.queries.QueryCaches.clear()
  }

  test("pushed IN-list and null-semantics match the residual filter") {
    val df = spark.read.format("gdelt-tsv").load(dir)
      .where(col("Day").isin("20130401", "20130403"))
    assert(scanDesc(df).contains("In(Day"))
    assert(df.select("GlobalEventID").as[String].collect().sorted.toSeq ==
      Seq("1", "2"))
    // a NULL Day never satisfies a pushed range (SQL unknown → skipped):
    // the short row's Day is non-null here, so build one with a null Day
    val d2 = tempDir("graft_dsv2_null")
    val fields = Gdelt.columns.map {
      case "GlobalEventID" => "9"
      case "Day" => "" // empty field reads as SQL NULL
      case c => c
    }
    JFiles.write(Paths.get(d2, "n.tsv"),
      fields.mkString("\t").getBytes)
    val nulls = spark.read.format("gdelt-tsv").load(d2)
    assert(nulls.where(col("Day") >= "0").count() == 0L)
    assert(nulls.where(col("Day").isNull).count() == 1L)
  }
}
