package graft.etl

import graft.schema.Gdelt
import graft.sources.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files => JFiles, Paths}

/** Convert stage: raw GDELT TSV → typed parquet, flat (daily) or
  * Hive-partitioned (monthly/yearly historical). SURVEY.md §2.1 S6–S11,
  * §3.2; reference: conversion/converter.py.
  *
  * Spark-first shape: one declarative read + cast pipeline, two write
  * modes. What the reference does per-file in a Python loop (glob, unzip,
  * pandas read, groupby partition keys, one parquet per group) collapses
  * into `spark.read.csv(...)` over many files at once and
  * `write.partitionBy(...)`, which generates the identical
  * `Year=…/MonthYear=…` directory layout with distributed shuffle-free
  * writes (dynamic partition insert). At 100 TB this is the difference
  * between a single-process file loop and a cluster-wide scan.
  */
object Convert {

  /** Read headerless tab-separated GDELT CSV with the injected all-string
    * schema of `columns`, in order (converter.py:67, 214-223).
    * DROPMALFORMED ≈ the reference's `on_bad_lines="warn"` skip-and-continue
    * contract, with one documented divergence (SURVEY.md §7.4): Spark drops
    * rows with *either* too many or too few fields, while pandas null-pads
    * short rows — the stricter "skip bad lines" reading. NB: malformed
    * detection only runs for columns the plan actually reads; a bare
    * `count()` on the raw CSV counts physical lines (column pruning reads
    * none) — materialize through the parquet sink before relying on row
    * counts. */
  def readRawTsv(spark: SparkSession, paths: Seq[String],
                 columns: Seq[String] = Gdelt.columns): DataFrame =
    spark.read.options(RawTsvOptions).schema(Gdelt.rawSchema(columns))
      .csv(paths: _*)

  /** CSV reader options of the raw TSV: [[readRawTsv]] and the streaming
    * [[graft.streaming.Incremental.incrementalConvert]]. */
  private[graft] val RawTsvOptions =
    Map("sep" -> "\t", "header" -> "false", "mode" -> "DROPMALFORMED")

  /** Numeric coercion (converter.py:225-227, 246-250): 19 configured
    * columns → double via try_cast (null on parse failure, matching
    * `pd.to_numeric(errors="coerce")` under Spark 4's default ANSI mode),
    * and Year/MonthYear/Day → nullable long (via double, so "2013.0"
    * coerces the way pandas' numeric path does). */
  def coerce(df: DataFrame): DataFrame =
    coerce(df, Gdelt.numericColumns, Gdelt.intColumns)

  /** Config-driven variant (utils/config.py contract: the numeric column
    * set is injected, not hardcoded). */
  def coerce(df: DataFrame, numericCols: Set[String],
             intCols: Set[String]): DataFrame = {
    val projected = df.columns.map { c =>
      if (intCols.contains(c))
        col(c).try_cast("double").cast("long").as(c)
      else if (numericCols.contains(c))
        col(c).try_cast("double").as(c)
      else col(c)
    }
    df.select(projected.toIndexedSeq: _*)
  }

  /** Flat write: append to the snappy parquet dataset
    * (converter.py:238-262). Append, not overwrite: the flat dataset
    * accumulates days across runs; idempotency comes from the `.done`
    * markers in [[run]], never from clobbering previously converted data.
    * Files are sized by [[Layout.sized]]. */
  def writeFlat(df: DataFrame, outDir: String): Unit =
    Layout.sized(df).write.mode("append").option("compression", "snappy")
      .parquet(outDir)

  /** Hive-partitioned historical write (converter.py:267-313): drop rows
    * with null partition keys, then `partitionBy` — Spark emits the same
    * `col=val/` directory tree the reference builds by hand with a pandas
    * groupby loop. Files are sized by [[Layout.sized]]. */
  def writeHistorical(df: DataFrame, histDir: String, fileType: String,
                      rules: Map[String, Seq[String]]): Unit = {
    val partCols = rules.getOrElse(fileType,
      throw new IllegalArgumentException(s"No partition rule for file type '$fileType'"))
    Layout.sized(df.na.drop("any", partCols))
      .write.mode("append")
      .option("compression", "snappy")
      .partitionBy(partCols: _*)
      .parquet(histDir)
  }

  /** Idempotency marker twins (converter.py:118-125): historical inputs
    * are skipped when `<name>.done` exists next to them. */
  def isDone(zipOrCsvPath: String): Boolean =
    JFiles.exists(Paths.get(zipOrCsvPath + ".done"))
  def markDone(zipOrCsvPath: String): Unit = {
    val p = Paths.get(zipOrCsvPath + ".done")
    if (!JFiles.exists(p)) JFiles.createFile(p)
  }

  /** Full stage over raw inputs — extracted TSVs or `.zip` archives —
    * routing daily files to the flat dataset and monthly/yearly files to
    * the Hive tree, honoring `.done` markers for every input
    * (converter.py:146-155; daily inputs included — the flat sink appends,
    * so re-ingesting a processed daily file would duplicate its rows).
    * `.zip` inputs are extracted driver-side first ([[graft.sources.Zip]],
    * utils/io.py:16-49) with the idempotency marker kept on the ARCHIVE,
    * so a re-run skips extraction and conversion wholesale. Unrecognized
    * filenames are reported, never silently dropped.
    * Returns (daily, historical, skipped, unknown) file counts. */
  def run(spark: SparkSession, inputs: Seq[String], flatDir: String,
          histDir: String,
          config: graft.util.GraftConfig = graft.util.Config.Default)
      : (Int, Int, Int, Int) = {
    val (zips, plain) = inputs.partition(_.toLowerCase.endsWith(".zip"))
    val (zipsDone, zipsTodo) = zips.partition(isDone)
    val tsvFiles = plain ++
      zipsTodo.flatMap(z => graft.sources.Zip.unzip(z).map(_.toString))
    val byType = route(tsvFiles)
    var skipped = zipsDone.size
    val written = FileTypes.map { ft =>
      val (done, todo) = byType.getOrElse(ft, Nil).partition(isDone)
      skipped += done.size
      if (todo.nonEmpty) {
        writeRouted(spark, ft, todo, flatDir, histDir, config)
        todo.foreach(markDone)
      }
      ft -> todo.size
    }.toMap
    zipsTodo.foreach(markDone)
    (written("daily"), written("monthly") + written("yearly"), skipped,
      byType.getOrElse("unknown", Nil).size)
  }

  /** The file types [[route]] recognizes, in the order they are written. */
  val FileTypes: Seq[String] = Seq("daily", "monthly", "yearly")

  /** The routed write of [[run]] and the CLI `pipeline`: `paths`, all of
    * one `fileType`, read through [[readRawTsv]] with `config.columns`,
    * coerced under `config` and appended to their sink — daily files to
    * the flat dataset, monthly and yearly files to the Hive tree. */
  def writeRouted(spark: SparkSession, fileType: String, paths: Seq[String],
                  flatDir: String, histDir: String,
                  config: graft.util.GraftConfig): Unit = {
    val df = coerce(readRawTsv(spark, paths, config.columns),
      config.numericColumns, Gdelt.intColumns)
    if (fileType == "daily") writeFlat(df, flatDir)
    else writeHistorical(df, histDir, fileType, config.partitionRules)
  }

  /** The file-type routing rule of [[run]] and the CLI `pipeline`: `paths`
    * grouped by [[Files.detectFileType]] of their archive-name shape
    * ("daily", "monthly", "yearly" or "unknown"). Each unrecognized path
    * is named on stderr. */
  def route(paths: Seq[String]): Map[String, Seq[String]] = {
    val byType = paths.groupBy(p => Files.detectFileType(fileZipName(p)))
    byType.getOrElse("unknown", Nil).foreach(p =>
      System.err.println(s"[convert] unrecognized file name, not converted: $p"))
    byType
  }

  /** Map an extracted TSV/CSV path back to the zip-style name used for
    * type detection: `20130401.export.CSV` → `20130401.export.CSV.zip`. */
  private[graft] def fileZipName(path: String): String = {
    val name = Paths.get(path).getFileName.toString
    val base = name.stripSuffix(".tsv").stripSuffix(".TSV")
      .stripSuffix(".csv").stripSuffix(".CSV")
    if (base.matches("""\d{8}\.export""")) s"$base.CSV.zip" else s"$base.zip"
  }
}
