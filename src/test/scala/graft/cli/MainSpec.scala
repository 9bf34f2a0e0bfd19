package graft.cli

import graft.{SparkSpec, TempDirs}
import java.nio.file.{Files => JFiles, Paths}

/** CLI contract (reference: main.py:49-57,118-156): error cases fail before
  * any job starts; sample subcommand runs end to end on a parquet input. */
class MainSpec extends SparkSpec with TempDirs {

  private lazy val workDir = tempDir("graft_cli")

  private lazy val eventsParquet: String = {
    val p = s"$workDir/events_pq"
    graft.Tables.events(spark, sf).write.mode("overwrite").parquet(p)
    p
  }

  test("error contract: unknown command / mode, missing filter, stratify without k") {
    spark // force shared session so Main reuses it instead of creating/stopping
    intercept[IllegalArgumentException](Main.main(Array("frobnicate")))
    intercept[IllegalArgumentException](Main.main(Array(
      "sample", "--in", eventsParquet, "--mode", "bogus")))
    intercept[IllegalArgumentException](Main.main(Array(
      "sample", "--in", eventsParquet, "--mode", "filtered")))
    intercept[IllegalArgumentException](Main.main(Array(
      "sample", "--in", eventsParquet, "--mode", "filtered",
      "--filter", """{"event_type": "click"}""", "--stratify", "event_type")))
    intercept[IllegalArgumentException](Main.main(Array(
      "sample", "--in", eventsParquet, "--mode", "indexed",
      "--columns", "not_a_column")))
  }

  test("sample indexed: exact n rows written") {
    val out = s"$workDir/sample_out"
    Main.main(Array("sample", "--in", eventsParquet, "--mode", "indexed",
      "-n", "50", "--seed", "7", "--out", out))
    assert(spark.read.parquet(out).count() == 50)
  }

  test("sample indexed: the row count comes from the footers, so the sample is the only job") {
    val out = s"$workDir/sample_jobs"
    val jobs = graft.JobCount(spark) {
      Main.main(Array("sample", "--in", eventsParquet, "--mode", "indexed",
        "-n", "50", "--seed", "7", "--out", out))
    }
    assert(jobs == 1, s"expected 1 job, got $jobs") // the sampling write
    assert(spark.read.parquet(out).count() == 50)
  }

  test("sample indexed: -n above the row count throws before any job and writes nothing") {
    val out = s"$workDir/sample_too_many"
    val total = spark.read.parquet(eventsParquet).count()
    var err: IllegalArgumentException = null
    val jobs = graft.JobCount(spark) {
      err = intercept[IllegalArgumentException](Main.main(Array("sample",
        "--in", eventsParquet, "--mode", "indexed", "-n", (total + 1).toString,
        "--out", out)))
    }
    assert(jobs == 0, s"expected 0 jobs, got $jobs")
    assert(err.getMessage.contains(s"${total + 1}") && err.getMessage.contains(s"$total"))
    assert(!JFiles.exists(Paths.get(out)))
  }

  test("a CLI command runs on the caller's live session with its settings unchanged") {
    val key = "spark.sql.shuffle.partitions"
    withConf(key -> "7") {
      Main.main(Array("sample", "--in", eventsParquet, "--mode", "indexed",
        "-n", "10", "--seed", "7", "--out", s"$workDir/sample_conf"))
      assert(spark.conf.get(key) == "7")
      assert(spark.read.parquet(s"$workDir/sample_conf").count() == 10)
    }
  }

  test("sample daily: the input's schema is read without a Spark job") {
    import spark.implicits._
    val in = s"$workDir/daily_in"
    (1L to 200L).map(i => (i, 20130401L + i % 5)).toDF("GlobalEventID", "Day")
      .write.mode("overwrite").parquet(in)
    val out = s"$workDir/sample_daily"
    val jobs = graft.JobCount(spark) {
      Main.main(Array("sample", "--in", in, "--mode", "daily",
        "--per-day", "3", "--seed", "1", "--out", out))
    }
    assert(jobs == 2, s"expected 2 jobs, got $jobs") // the sampler's shuffle stage and the write
    assert(spark.read.parquet(out).count() == 15)
  }

  test("sample filtered+stratified: k per stratum, projected columns") {
    val out = s"$workDir/sample_strat"
    Main.main(Array("sample", "--in", eventsParquet, "--mode", "filtered",
      "--filter", """{"value": {"op": "gt", "value": 10}}""",
      "--stratify", "event_type", "--n-per-group", "5",
      "--columns", "event_id", "event_type", "--out", out))
    val df = spark.read.parquet(out)
    assert(df.columns.toSeq == Seq("event_id", "event_type"))
    val max = df.groupBy("event_type").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(max <= 5)
  }

  test("full pipeline: convert → filter → sample chained through the CLI") {
    import graft.schema.Gdelt
    val dir = tempDir("graft_pipe")
    // GDELT-shaped daily TSV: 40 rows, QuadClass null every 5th (dropped by
    // filter), two distinct days
    val lines = (1 to 40).map { i =>
      val day = if (i % 2 == 0) "20130401" else "20130402"
      val m = Map(
        "GlobalEventID" -> i.toString, "Day" -> day,
        "MonthYear" -> day.take(6), "Year" -> day.take(4),
        "QuadClass" -> (if (i % 5 == 0) "" else (i % 4 + 1).toString),
        "Actor1Name" -> "A", "Actor2Name" -> "B",
        "Actor1Geo_Lat" -> "1", "Actor1Geo_Long" -> "2",
        "Actor2Geo_Lat" -> "3", "Actor2Geo_Long" -> "4",
        "ActionGeo_Lat" -> "5", "ActionGeo_Long" -> "6")
      Gdelt.columns.map(c => m.getOrElse(c, "x")).mkString("\t")
    }
    JFiles.write(Paths.get(dir, "20130401.export.CSV"), lines.mkString("\n").getBytes)
    spark // pin shared session

    Main.main(Array("convert", "--in", s"$dir/20130401.export.CSV",
      "--flat-out", s"$dir/flat", "--hist-out", s"$dir/hist"))
    Main.main(Array("filter", "--in", s"$dir/flat", "--out", s"$dir/filtered"))
    Main.main(Array("sample", "--in", s"$dir/filtered", "--mode", "filtered",
      "--filter", """{"QuadClass": [1, 2, 3]}""",
      "--stratify", "Day", "--n-per-group", "3", "--seed", "7",
      "--out", s"$dir/sample"))

    val filtered = spark.read.parquet(s"$dir/filtered")
    assert(filtered.count() == 32) // 8 null-QuadClass rows dropped
    val sample = spark.read.parquet(s"$dir/sample")
    // 3 per day × 2 days, all matching the DSL filter
    assert(sample.count() == 6)
    assert(sample.groupBy("Day").count()
      .collect().forall(_.getLong(1) == 3))
    assert(sample.where(!org.apache.spark.sql.functions.col("QuadClass").isin(1d, 2d, 3d))
      .count() == 0)
  }

  test("scrape: date-filtered URL listing from file") {
    val f = Paths.get(workDir, "urls.txt")
    JFiles.write(f, "http://x/20150218.export.CSV.zip\nhttp://x/2014.zip\n".getBytes)
    // runs without Spark; output printed — just assert no exception and
    // that start>end is rejected
    Main.main(Array("scrape", "--urls-file", f.toString,
      "--start-date", "2015-01-01", "--end-date", "2015-12-31"))
    intercept[IllegalArgumentException](Main.main(Array(
      "scrape", "--urls-file", f.toString,
      "--start-date", "2016-01-01", "--end-date", "2015-12-31")))
    intercept[IllegalArgumentException](Main.main(Array(
      "scrape", "--urls-file", f.toString, "--start-date", "not-a-date")))
  }

  test("scrape: link scan of a saved HTML listing (S1) feeds the date filter") {
    val h = Paths.get(workDir, "events.html")
    JFiles.write(h,
      """<a href="20150218.export.CSV.zip">x</a>
        |<a href="https://data.gdeltproject.org/events/2014.zip">y</a>
        |<a href="not-a-dataset.html">z</a>""".stripMargin.getBytes)
    Main.main(Array("scrape", "--html-file", h.toString,
      "--start-date", "2015-01-01", "--end-date", "2015-12-31"))
    // exactly one input source must be given
    intercept[IllegalArgumentException](Main.main(Array(
      "scrape", "--html-file", h.toString, "--urls-file", h.toString)))
    intercept[IllegalArgumentException](Main.main(Array("scrape")))
  }

  test("convert: .zip archives extract, convert, and honor the archive .done marker") {
    import graft.schema.Gdelt
    val dir = tempDir("graft_zip_cli")
    val m = Map("GlobalEventID" -> "1", "Day" -> "20130401",
      "MonthYear" -> "201304", "Year" -> "2013", "QuadClass" -> "1")
    val line = Gdelt.columns.map(c => m.getOrElse(c, "x")).mkString("\t")
    val zipPath = Paths.get(dir, "20130401.export.CSV.zip")
    val zout = new java.util.zip.ZipOutputStream(JFiles.newOutputStream(zipPath))
    zout.putNextEntry(new java.util.zip.ZipEntry("20130401.export.CSV"))
    zout.write(line.getBytes("UTF-8"))
    zout.closeEntry(); zout.close()
    spark // pin shared session

    Main.main(Array("convert", "--in", zipPath.toString,
      "--flat-out", s"$dir/flat", "--hist-out", s"$dir/hist"))
    assert(spark.read.parquet(s"$dir/flat").count() == 1)
    assert(JFiles.exists(Paths.get(zipPath.toString + ".done")))
    // second run: archive skipped wholesale, no duplicate rows appended
    Main.main(Array("convert", "--in", zipPath.toString,
      "--flat-out", s"$dir/flat", "--hist-out", s"$dir/hist"))
    assert(spark.read.parquet(s"$dir/flat").count() == 1)
  }

  test("dedup: keeps the smallest-tiebreak row per key; validates columns") {
    import spark.implicits._
    val dir = tempDir("graft_dedup_cli")
    Seq((1L, 10L, "a"), (1L, 5L, "b"), (2L, 7L, "c"))
      .toDF("k", "seq", "v").write.parquet(s"$dir/in")
    Main.main(Array("dedup", "--in", s"$dir/in", "--by", "k",
      "--tiebreak", "seq", "--out", s"$dir/out"))
    val out = spark.read.parquet(s"$dir/out").select("k", "v")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "b", 2L -> "c"))
    intercept[IllegalArgumentException](Main.main(Array(
      "dedup", "--in", s"$dir/in", "--by", "nope", "--out", s"$dir/x")))
    intercept[IllegalArgumentException](Main.main(Array(
      "dedup", "--in", s"$dir/in", "--out", s"$dir/x")))
  }

  test("dedup: an input column named __rn survives with its values") {
    import spark.implicits._
    val dir = tempDir("graft_dedup_rn_cli")
    Seq((1L, 10L, "a"), (1L, 5L, "b"), (2L, 7L, "c"))
      .toDF("k", "seq", "__rn").write.parquet(s"$dir/in")
    Main.main(Array("dedup", "--in", s"$dir/in", "--by", "k",
      "--tiebreak", "seq", "--out", s"$dir/out"))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.columns.toSeq == Seq("k", "seq", "__rn"))
    assert(out.select("k", "__rn").as[(Long, String)].collect().toMap ==
      Map(1L -> "b", 2L -> "c"))
  }

  test("compact: merges small files through the CLI") {
    val dir = tempDir("graft_compact_cli")
    spark.range(1000).toDF("id").repartition(8).write.parquet(s"$dir/t")
    Main.main(Array("compact", "--in", s"$dir/t"))
    assert(spark.read.parquet(s"$dir/t").inputFiles.length == 1)
    assert(spark.read.parquet(s"$dir/t").count() == 1000)
  }

  test("manifest: writes a per-file min/max index through the CLI") {
    val dir = tempDir("graft_manifest_cli")
    graft.etl.Layout.writeSorted(
      spark.range(1, 101).toDF("id"),
      Seq(org.apache.spark.sql.functions.col("id")), s"$dir/t", targetFiles = 4)
    Main.main(Array("manifest", "--in", s"$dir/t", "--key", "id",
      "--out", s"$dir/m"))
    val m = spark.read.parquet(s"$dir/m")
    assert(m.count() == 4)
    assert(m.columns.sorted.toSeq == Seq("file", "max_key", "min_key", "n_rows"))
    intercept[IllegalArgumentException](
      Main.main(Array("manifest", "--in", s"$dir/t")))
  }

  test("prepare: quality gate, dedup keep-min, token-budget bins") {
    import spark.implicits._
    val dir = tempDir("graft_prepare_cli")
    val good = "the quick brown fox and the lazy dog of a farm in town " * 10
    Seq(
      (1L, good),          // survives, keeps the duplicate group
      (2L, good),          // exact duplicate of 1 → dropped
      (3L, good + "extra"),// distinct → survives
      (4L, "x!!!")         // low quality → dropped
    ).toDF("doc_id", "text").write.parquet(s"$dir/in")
    Main.main(Array("prepare", "--in", s"$dir/in", "--out", s"$dir/out",
      "--budget", "64"))
    val out = spark.read.parquet(s"$dir/out")
      .select("doc_id", "n_tokens", "bin").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 3L), "dedup keeps min doc_id; quality gate drops noise")
    assert(out.map(_._2).toSeq == Seq(130L, 131L))
    // 130-token prefix over a 64-token budget: doc 3 lands in bin 2
    assert(out.map(_._3).toSeq == Seq(0L, 2L))
    intercept[IllegalArgumentException](Main.main(Array(
      "prepare", "--in", s"$dir/in")))
  }

  test("diff: writes the I/U/D changeset; validates columns") {
    import spark.implicits._
    val dir = tempDir("graft_diff_cli")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$dir/prev")
    Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "v").write.parquet(s"$dir/next")
    Main.main(Array("diff", "--prev", s"$dir/prev", "--next", s"$dir/next",
      "--key", "k", "--compare", "v", "--out", s"$dir/out"))
    val out = spark.read.parquet(s"$dir/out").select("k", "op")
      .as[(Long, String)].collect().toMap
    assert(out == Map(2L -> "U", 3L -> "I"))
    intercept[IllegalArgumentException](Main.main(Array(
      "diff", "--prev", s"$dir/prev", "--next", s"$dir/next",
      "--key", "nope", "--compare", "v", "--out", s"$dir/x")))
    intercept[IllegalArgumentException](Main.main(Array(
      "diff", "--prev", s"$dir/prev", "--next", s"$dir/next",
      "--key", "k", "--out", s"$dir/x")))
  }

  test("ann: brute top-k through the CLI matches the library call; error contract") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_ann_cli")
    val emb = graft.Tables.embeddings(spark, sf)
    Main.main(Array("ann", "--in", "/root/testdata/sf0.001/embeddings.parquet",
      "--queries", "0,1", "--topk", "3", "--out", s"$dir/out"))
    val out = spark.read.parquet(s"$dir/out")
    assert(out.columns.toSeq == Seq("qid", "nid", "rank", "cos"))
    val expect = graft.similarity.Similarity.bruteForceTopK(
      emb.where(col("vec_id") < 2), emb, 3)
    assert(out.orderBy("qid", "rank").collect().toSeq ==
      expect.orderBy("qid", "rank").collect().toSeq)
    // lsh mode produces ranked rows for the same queries (subset recall)
    Main.main(Array("ann", "--in", "/root/testdata/sf0.001/embeddings.parquet",
      "--queries", "0,1", "--topk", "3", "--mode", "lsh", "--out", s"$dir/lsh"))
    assert(spark.read.parquet(s"$dir/lsh").count() > 0)
    intercept[IllegalArgumentException](Main.main(Array(
      "ann", "--in", "/root/testdata/sf0.001/embeddings.parquet",
      "--queries", "0", "--mode", "nope", "--out", s"$dir/x")))
    intercept[IllegalArgumentException](Main.main(Array(
      "ann", "--in", "/root/testdata/sf0.001/embeddings.parquet",
      "--out", s"$dir/x")))
    intercept[IllegalArgumentException](Main.main(Array(
      "ann", "--in", "/root/testdata/sf0.001/embeddings.parquet",
      "--queries", "0", "--id-col", "nope", "--out", s"$dir/x")))
  }

  test("merge: upsert with delete clause through the CLI; error contract") {
    import spark.implicits._
    val dir = tempDir("graft_merge_cli")
    Seq((1L, "O", 10.0), (2L, "F", 20.0), (3L, "O", 30.0))
      .toDF("k", "st", "v").write.parquet(s"$dir/target")
    Seq((2L, "F", 99.0), (3L, "O", 33.0), (9L, "O", 90.0))
      .toDF("k", "st", "v").write.parquet(s"$dir/source")
    Main.main(Array("merge", "--target", s"$dir/target",
      "--source", s"$dir/source", "--key", "k",
      "--delete-when-equals", "st=F", "--out", s"$dir/out"))
    val out = spark.read.parquet(s"$dir/out").orderBy("k")
      .as[(Long, String, Double)].collect().toSeq
    // 1 kept, 2 deleted (matched F), 3 updated, 9 inserted
    assert(out == Seq((1L, "O", 10.0), (3L, "O", 33.0), (9L, "O", 90.0)))
    intercept[IllegalArgumentException](Main.main(Array(
      "merge", "--target", s"$dir/target", "--source", s"$dir/source",
      "--key", "nope", "--out", s"$dir/x")))
    intercept[IllegalArgumentException](Main.main(Array(
      "merge", "--target", s"$dir/target", "--source", s"$dir/source",
      "--key", "k", "--delete-when-equals", "nope=F", "--out", s"$dir/x")))
    intercept[IllegalArgumentException](Main.main(Array(
      "merge", "--target", s"$dir/target", "--out", s"$dir/x")))
  }
}
