package graft.cli

import graft.dsl.FilterDsl
import graft.etl.{Convert, FilterStage, Layout}
import graft.sample.Samplers
import graft.sample.Samplers.SampleOrder
import graft.sources.Files
import graft.util.{Config, ParquetFooter}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import java.time.LocalDate
import scala.util.Try

/** CLI shell mirroring the reference's subcommand surface and error
  * contract (SURVEY.md §2.12; reference: main.py:163-247):
  *
  *   scrape  (--urls-file F | --html-file F [--base-url U])
  *           [--start-date D] [--end-date D]
  *           (network-free: link scan of a saved HTML listing (S1) and/or
  *            date-range filtering of the URL list; the transport side of
  *            downloading lives in sources.Downloader (S4) behind an
  *            injected stream)
  *   convert --in TSV|ZIP... --flat-out DIR --hist-out DIR
  *   filter  --in DIR... --out DIR [--check-cols c1,c2,...]
  *   sample  --in DIR --mode {indexed|filtered|daily} [-n N] [--seed S]
  *           [--per-day K] [--filter JSON] [--columns c1,c2,...]
  *           [--stratify COL --n-per-group K] [--out PATH]
  *   dedup   --in DIR... --by c1,c2 [--tiebreak col] --out DIR   (extension)
  *   compact --in DIR [--target-bytes N]                         (extension)
  *   diff    --prev DIR --next DIR --key K --compare c1,c2 --out DIR (extension)
  *   prepare --in DIR... --out DIR [--min-quality Q] [--budget N]      (extension)
  *   manifest --in DIR --key COL [--out PATH]                          (extension)
  *   ann     --in DIR --queries id,... [--topk K] [--mode brute|lsh]
  *           [--id-col C] [--vec-col C] --out PATH                     (extension)
  *   merge   --target DIR --source DIR --key k1,... --out DIR
  *           [--delete-when-equals COL=VALUE]                          (extension)
  *   pipeline --in RAWDIR --out DIR [--start-day D --end-day D]
  *           [--per-day K] [--seed S] [--check-cols c1,...]            (extension)
  *
  * Error contract (main.py:49-57,118-156): invalid dates, start > end,
  * filtered mode without --filter, --stratify without --n-per-group, and
  * unknown modes all raise IllegalArgumentException before any Spark job
  * starts.
  */
object Main {

  def main(args: Array[String]): Unit = args.toList match {
    case "scrape" :: rest => scrape(parseFlags(rest))
    case cmd :: rest if sparkCommands.contains(cmd) =>
      val flags = parseFlags(rest)
      withSpark(flags)(sparkCommands(cmd)(_, flags))
    case other =>
      throw new IllegalArgumentException(
        s"Unknown command: ${other.headOption.getOrElse("<none>")} " +
          "(expected scrape | convert | filter | sample | dedup | compact | diff | prepare | manifest | ann | merge | pipeline)")
  }

  private val sparkCommands: Map[String, (SparkSession, Flags) => Unit] = Map(
    "convert" -> convert, "filter" -> filter, "sample" -> sample,
    // extension ops-tooling (beyond the reference surface):
    "dedup" -> dedup, "compact" -> compactCmd, "diff" -> diffCmd,
    "prepare" -> prepare, "manifest" -> manifestCmd, "ann" -> annCmd,
    "merge" -> mergeCmd, "pipeline" -> pipelineCmd)

  // ------------------------------------------------------------ commands

  /** Listing base of the reference's scraper (scraper.py:88). */
  private val DefaultBaseUrl = "http://data.gdeltproject.org/events/"

  private def scrape(flags: Flags): Unit = {
    def readAll(path: String): Seq[String] = {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().toSeq finally src.close()
    }
    val urls = (flags.get("urls-file"), flags.get("html-file")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "Provide either --urls-file or --html-file, not both")
      case (Some(f), None) => readAll(f)
      case (None, Some(h)) => // S1: static-HTML link scan (scraper.py:78-122)
        Files.scanGdeltLinks(readAll(h).mkString("\n"),
          flags.get("base-url").getOrElse(DefaultBaseUrl))
      case (None, None) => throw new IllegalArgumentException(
        "Missing required --urls-file or --html-file")
    }
    val start = flags.get("start-date").map(parseDate("start-date"))
    val end = flags.get("end-date").map(parseDate("end-date"))
    for (s <- start; e <- end)
      require(!s.isAfter(e), s"start-date $s must be <= end-date $e")
    Files.filterUrlsByDate(urls, start, end).foreach(println)
  }

  private def convert(spark: SparkSession, flags: Flags): Unit = {
    val (daily, hist, skipped, unknown) = Convert.run(spark, flags.reqList("in"),
      flags.req("flat-out"), flags.req("hist-out"), config(flags))
    println(s"convert: daily=$daily historical=$hist skipped=$skipped unknown=$unknown")
  }

  private def filter(spark: SparkSession, flags: Flags): Unit = {
    val checkCols = flags.get("check-cols").map(_.split(',').toSeq)
      .getOrElse(config(flags).filterColumns)
    val (before, after) = FilterStage.run(spark, flags.reqList("in"),
      flags.req("out"), checkCols)
    val pct = if (before == 0) 100.0 else after * 100.0 / before
    println(f"filter: rows_before=$before rows_after=$after retention=$pct%.2f%%")
  }

  /** `--config settings.yaml` when given, reference-default config
    * otherwise (utils/config.py:6-14 contract). */
  private def config(flags: Flags): graft.util.GraftConfig =
    flags.get("config").map(Config.load).getOrElse(Config.Default)

  private def sample(spark: SparkSession, flags: Flags): Unit = {
    val cfg = config(flags)
    val df = ParquetFooter.read(spark, flags.reqList("in"): _*)
    val seed = flags.get("seed").map(_.toLong).getOrElse(cfg.defaultSeed)
    val n = flags.get("n").map(_.toInt).getOrElse(cfg.defaultN)
    val projected = flags.getList("columns").map(_.flatMap(_.split(','))) match {
      case Some(cols) =>
        val unknown = cols.filterNot(df.columns.contains)
        require(unknown.isEmpty, s"Unknown columns: ${unknown.mkString(", ")}")
        cols
      case None => df.columns.toSeq
    }
    val order = sampleOrder(df, seed)

    val result: DataFrame = flags.req("mode") match {
      case "indexed" =>
        // the reference's metadata index: the row count from the footers,
        // so an oversized n fails before any Spark job starts
        val total = ParquetFooter.rowCount(spark, flags.reqList("in"))
          .getOrElse(df.count())
        if (n > total) throw new IllegalArgumentException(
          s"Requested sample size $n exceeds total rows $total")
        Samplers.uniformExact(df, n, order)
      case "daily" =>
        require(df.columns.contains("Day"), "daily mode requires a Day column")
        Samplers.daily(df, col("Day"),
          flags.get("per-day").map(_.toInt).getOrElse(cfg.defaultPerDay), order)
      case "filtered" =>
        val json = flags.get("filter").getOrElse(
          throw new IllegalArgumentException("filtered mode requires --filter JSON"))
        val filtered = df.where(FilterDsl.toColumn(json, df.columns.toSeq))
        flags.get("stratify") match {
          case Some(stratCol) =>
            val k = flags.get("n-per-group").getOrElse(
              throw new IllegalArgumentException("--stratify requires --n-per-group")).toInt
            Samplers.stratified(filtered, col(stratCol), k, order)
          case None => Samplers.uniformExact(filtered, n, order)
        }
      case m =>
        throw new IllegalArgumentException(s"Unknown sampling mode: $m")
    }
    val out = flags.get("out").getOrElse("sample.parquet")
    result.select(projected.map(col): _*)
      .write.mode("overwrite").parquet(out)
    println(s"sample: wrote $out")
  }

  /** `dedup --in DIR... --by c1,c2 [--tiebreak col] --out DIR`: exact
    * row-level dedup — keep one row per `--by` key, the one with the
    * smallest `--tiebreak` value (default: first --by column) so re-runs
    * are deterministic. [[Samplers.perGroup]] with k = 1. */
  private def dedup(spark: SparkSession, flags: Flags): Unit = {
    val df = ParquetFooter.read(spark, flags.reqList("in"): _*)
    val by = flags.req("by").split(',').toSeq
    val unknown = by.filterNot(df.columns.contains)
    require(unknown.isEmpty, s"Unknown columns: ${unknown.mkString(", ")}")
    val tiebreak = flags.get("tiebreak").getOrElse(by.head)
    require(df.columns.contains(tiebreak), s"Unknown columns: $tiebreak")
    val kept = Samplers.perGroup(df, by.map(col), 1, SampleOrder.By(Seq(col(tiebreak))))
    val out = flags.req("out")
    kept.write.mode("overwrite").parquet(out)
    println(s"dedup: wrote $out")
  }

  /** `compact --in DIR [--target-bytes N]`: bin-pack a parquet directory's
    * small files (default target `Layout.TargetFileBytes`, 128 MiB per
    * output file, the size the ETL sinks write). */
  private def compactCmd(spark: SparkSession, flags: Flags): Unit = {
    val target = flags.get("target-bytes").map(_.toLong)
      .getOrElse(Layout.TargetFileBytes)
    val (before, after) = Layout.compact(spark, flags.req("in"), target)
    println(s"compact: files_before=$before files_after=$after")
  }

  /** `ann --in DIR --queries id,id,... [--topk K] [--mode brute|lsh]
    * [--id-col C] [--vec-col C] [--seed S] [--bands B] [--width W]
    * --out PATH`: top-k nearest neighbors for the named query ids over an
    * embeddings table — `brute` is the exact baseline (broadcast query
    * set × corpus scan), `lsh` the banded-candidates scale path. */
  private def annCmd(spark: SparkSession, flags: Flags): Unit = {
    import graft.similarity.Similarity
    val df = ParquetFooter.read(spark, flags.req("in"))
    val idCol = flags.get("id-col").getOrElse("vec_id")
    val vecCol = flags.get("vec-col").getOrElse("embedding")
    val unknown = Seq(idCol, vecCol).filterNot(df.columns.contains)
    require(unknown.isEmpty, s"Unknown columns: ${unknown.mkString(", ")}")
    val k = flags.get("topk").map(_.toInt).getOrElse(10)
    require(k > 0, s"--topk must be positive, got $k")
    val qids = flags.req("queries").split(',').map(_.trim.toLong).toSeq
    require(qids.nonEmpty, "--queries must name at least one id")
    val base = df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    val res = flags.get("mode").getOrElse("brute") match {
      case "brute" =>
        Similarity.bruteForceTopK(base.where(col("vec_id").isin(qids: _*)), base, k)
      case "lsh" =>
        val pairs = Similarity.signLshPairs(base,
          seed = flags.get("seed").map(_.toLong).getOrElse(42L),
          bands = flags.get("bands").map(_.toInt).getOrElse(16),
          width = flags.get("width").map(_.toInt).getOrElse(8),
          maxBucket = 1024)
        val directed = pairs
          .select(col("va").as("qid"), col("vb").as("nid"), col("cos"))
          .unionByName(pairs.select(col("vb").as("qid"), col("va").as("nid"),
            col("cos")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"))
          .orderBy(col("cos").desc, col("nid"))
        directed.where(col("qid").isin(qids: _*))
          .withColumn("rank",
            org.apache.spark.sql.functions.row_number().over(w).cast("long"))
          .where(col("rank") <= k)
          .select("qid", "nid", "rank", "cos")
      case other => throw new IllegalArgumentException(
        s"Unknown mode: $other (expected brute | lsh)")
    }
    val out = flags.req("out")
    res.write.mode("overwrite").parquet(out)
    println(s"ann: wrote $out")
  }

  /** `manifest --in DIR --key COL [--out PATH]`: per-file min/max/count
    * file-skipping index (Layout.manifest); prints row count, optionally
    * writes the manifest itself as parquet. */
  private def manifestCmd(spark: SparkSession, flags: Flags): Unit = {
    val m = Layout.manifest(spark, flags.req("in"), flags.req("key"))
    flags.get("out") match {
      case Some(out) => m.write.mode("overwrite").parquet(out)
      case None      => ()
    }
    println(s"manifest: files=${m.count()}")
  }

  /** `diff --prev DIR --next DIR --key K --compare c1,c2 --out DIR`:
    * CDC changeset (I/U/D rows) between two keyed parquet snapshots
    * (ChangeData.snapshotDiff). */
  private def diffCmd(spark: SparkSession, flags: Flags): Unit = {
    val prev = ParquetFooter.read(spark, flags.req("prev"))
    val next = ParquetFooter.read(spark, flags.req("next"))
    val key = flags.req("key")
    val compare = flags.req("compare").split(',').toSeq
    val unknown = (key +: compare).filterNot(c =>
      prev.columns.contains(c) && next.columns.contains(c))
    require(unknown.isEmpty, s"Unknown columns: ${unknown.mkString(", ")}")
    val out = flags.req("out")
    graft.operators.ChangeData.snapshotDiff(prev, next, key, compare)
      .write.mode("overwrite").parquet(out)
    println(s"diff: wrote $out")
  }

  /** `merge --target DIR --source DIR --key k1[,k2...] --out DIR
    *        [--delete-when-equals COL=VALUE]`:
    * batch MERGE INTO (operators/Merge) — matched rows update from the
    * source, unmatched source rows insert, target-only rows survive;
    * `--delete-when-equals` drops matched rows whose SOURCE column equals
    * the literal. Refuses mismatched schemas before any job starts. */
  private def mergeCmd(spark: SparkSession, flags: Flags): Unit = {
    val target = ParquetFooter.read(spark, flags.req("target"))
    val source = ParquetFooter.read(spark, flags.req("source"))
    val keys = flags.req("key").split(',').toSeq
    val unknown = keys.filterNot(k =>
      target.columns.contains(k) && source.columns.contains(k))
    require(unknown.isEmpty, s"Unknown key columns: ${unknown.mkString(", ")}")
    val deleteWhen = flags.get("delete-when-equals") match {
      case Some(spec) => spec.split("=", 2) match {
        case Array(c, v) if source.columns.contains(c) =>
          col(s"_src.$c") === v
        case Array(c, _) => throw new IllegalArgumentException(
          s"Unknown --delete-when-equals column: $c")
        case _ => throw new IllegalArgumentException(
          "--delete-when-equals must be COL=VALUE")
      }
      case None => org.apache.spark.sql.functions.lit(false)
    }
    val out = flags.req("out")
    graft.operators.Merge.mergeInto(target, source, keys, deleteWhen)
      .write.mode("overwrite").parquet(out)
    println(s"merge: wrote $out")
  }

  /** `prepare --in DIR... --out DIR [--min-quality Q] [--budget N]`:
    * the training-data curation pipeline as one command — quality gate
    * (TextFunctions.qualityScore), exact dedup on the normalized-text
    * fingerprint (keep min doc_id), contiguous sequence packing into
    * token-budget bins (Packing.packByBudget). Output = surviving docs
    * with `n_tokens` and `bin` columns. */
  private def prepare(spark: SparkSession, flags: Flags): Unit = {
    import graft.text.TextFunctions
    val df = ParquetFooter.read(spark, flags.reqList("in"): _*)
    Seq("doc_id", "text").foreach(c =>
      require(df.columns.contains(c), s"prepare requires a '$c' column"))
    val minQ = flags.get("min-quality").map(_.toDouble).getOrElse(0.5)
    val budget = flags.get("budget").map(_.toLong).getOrElse(256L)
    val surviving = df
      .withColumn("__q", TextFunctions.qualityScore(org.apache.spark.sql.functions.col("text")))
      .where(col("__q") >= minQ).drop("__q")
      .withColumn("__fp", TextFunctions.fingerprintMd5(col("text")))
    val kept = surviving
      .withColumn("__keep", org.apache.spark.sql.functions.min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))))
      .where(col("doc_id") === col("__keep")).drop("__fp", "__keep")
    val withN = kept.withColumn("n_tokens",
      TextFunctions.tokenCount(col("text")).cast("long"))
    val out = flags.req("out")
    graft.operators.Packing.packByBudget(withN, col("doc_id"), col("n_tokens"), budget)
      .write.mode("overwrite").parquet(out)
    println(s"prepare: wrote $out")
  }

  /** `pipeline --in RAWDIR --out DIR [--start-day D --end-day D]
    * [--per-day K] [--seed S] [--check-cols c1,...]`: the whole ingest
    * chain in ONE invocation, writing the raw TSVs exactly as `convert`
    * does ([[Convert.writeRouted]]) — type-route by archive-name
    * shape → coerce → flat (daily) + Hive (monthly/yearly) sinks →
    * day-range re-read where the flat side is row-filtered and the Hive
    * side is partition-PRUNED (Year/MonthYear predicates derived from the
    * day range reach PartitionFilters) → null-check filter → daily
    * sample. Writes `<out>/{flat,hist,filtered,sample}`. */
  private def pipelineCmd(spark: SparkSession, flags: Flags): Unit = {
    import graft.schema.Gdelt
    val cfg = config(flags)
    val rawDir = flags.req("in")
    val outBase = flags.req("out")
    val startDay = flags.get("start-day").map(_.toLong)
    val endDay = flags.get("end-day").map(_.toLong)
    for (s <- startDay; e <- endDay)
      require(s <= e, s"start-day $s must be <= end-day $e")

    // driver-side type routing by archive-name shape (convert's rule)
    val p = new org.apache.hadoop.fs.Path(rawDir)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(hfs.exists(p), s"pipeline: no such path $rawDir")
    val files = hfs.listStatus(p).toSeq.filter(_.isFile)
      .map(_.getPath.toString).sorted
    val byType = Convert.route(files)
    val flatDir = s"$outBase/flat"
    val histDir = s"$outBase/hist"
    // both sinks append, so a re-run first removes its own earlier output
    for (dir <- Seq(flatDir, histDir)) {
      val out = new org.apache.hadoop.fs.Path(dir)
      out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
    }
    val daily = byType.getOrElse("daily", Nil)
    val monthly = byType.getOrElse("monthly", Nil)
    val yearly = byType.getOrElse("yearly", Nil)
    for (ft <- Convert.FileTypes; paths = byType.getOrElse(ft, Nil)
         if paths.nonEmpty)
      Convert.writeRouted(spark, ft, paths, flatDir, histDir, cfg)

    // day-range re-read: flat = parquet row-group filter on Day; Hive =
    // partition pruning via Year/MonthYear bounds implied by the range
    def dayRange(df: DataFrame): DataFrame = {
      val lo = startDay.map(s => col("Day") >= s)
      val hi = endDay.map(e => col("Day") <= e)
      (lo ++ hi).reduceOption(_ && _).map(df.where).getOrElse(df)
    }
    def prunedHist(h: DataFrame): DataFrame = {
      var out = h
      for (s <- startDay; e <- endDay) {
        if (out.columns.contains("Year"))
          out = out.where(col("Year").between(s / 10000, e / 10000))
        if (out.columns.contains("MonthYear"))
          out = out.where(col("MonthYear").between(s / 100, e / 100))
      }
      dayRange(out)
    }
    // partition columns read back as int (directory-value inference) while
    // the flat side wrote them long — align to the 58-column schema order
    // with int columns cast to long so the union is exact
    def aligned(df: DataFrame): DataFrame =
      df.select(Gdelt.columns.map(c =>
        if (Gdelt.intColumns.contains(c)) col(c).cast("long").as(c)
        else col(c)): _*)
    def read(dir: String) = ParquetFooter.read(spark, dir)
    val sides =
      (if (daily.nonEmpty) Seq(dayRange(read(flatDir))) else Nil) ++
      (if (monthly.nonEmpty || yearly.nonEmpty)
        Seq(prunedHist(read(histDir))) else Nil)
    val unioned = sides.map(aligned).reduceOption(_.unionByName(_)).getOrElse(
      throw new IllegalArgumentException("pipeline: no recognized input files"))

    val checkCols = flags.get("check-cols").map(_.split(',').toSeq)
      .getOrElse(cfg.filterColumns)
    val (_, filteredRows) =
      FilterStage.write(unioned, s"$outBase/filtered", checkCols)
    val filtered = read(s"$outBase/filtered")
    val perDay = flags.get("per-day").map(_.toInt).getOrElse(cfg.defaultPerDay)
    val seed = flags.get("seed").map(_.toLong).getOrElse(cfg.defaultSeed)
    // the sampled-row count is observed on the sample write, not re-read
    val sampleObs = Observation("pipeline_sample")
    Samplers.daily(filtered, col("Day"), perDay, sampleOrder(filtered, seed))
      .observe(sampleObs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(s"$outBase/sample")
    val sampled = sampleObs.get("rows")
    println(s"pipeline: files=${files.size} daily=${daily.size} " +
      s"monthly=${monthly.size} yearly=${yearly.size} " +
      s"unknown=${byType.getOrElse("unknown", Nil).size} " +
      s"filtered_rows=$filteredRows sampled=$sampled")
  }

  /** Content-hash ordering on GlobalEventID when present (partition-layout
    * independent reproducibility); plain rand(seed) otherwise. */
  private def sampleOrder(df: DataFrame, seed: Long): SampleOrder =
    if (df.columns.contains("GlobalEventID"))
      SampleOrder.HashOf(seed, Seq(col("GlobalEventID")))
    else SampleOrder.Rand(seed)

  // ------------------------------------------------------------ plumbing

  private def parseDate(flag: String)(s: String): LocalDate =
    Try(LocalDate.parse(s)).getOrElse(
      throw new IllegalArgumentException(s"Invalid --$flag '$s' (expected YYYY-MM-DD)"))

  /** `--key value` flags; `--key v1 v2 v3` accumulates a list. */
  final case class Flags(m: Map[String, Seq[String]]) {
    // headOption, not head: `--flag` with no value parses to an empty list
    // and must surface as the contractual "missing --flag" error, not a
    // NoSuchElementException
    def get(k: String): Option[String] = m.get(k).flatMap(_.headOption)
    def getList(k: String): Option[Seq[String]] = m.get(k).filter(_.nonEmpty)
    def req(k: String): String =
      get(k).getOrElse(throw new IllegalArgumentException(s"Missing required --$k"))
    def reqList(k: String): Seq[String] =
      getList(k).getOrElse(throw new IllegalArgumentException(s"Missing required --$k"))
  }

  private def parseFlags(args: List[String]): Flags = {
    val grouped = scala.collection.mutable.Map[String, Vector[String]]()
    var key: Option[String] = None
    args.foreach {
      case f if f.startsWith("--") =>
        key = Some(f.drop(2))
        grouped.getOrElseUpdate(f.drop(2), Vector())
      case f if f == "-n" =>
        key = Some("n"); grouped.getOrElseUpdate("n", Vector())
      case v =>
        val k = key.getOrElse(
          throw new IllegalArgumentException(s"Value '$v' without a preceding flag"))
        grouped(k) = grouped(k) :+ v
    }
    Flags(grouped.view.mapValues(_.toSeq).toMap)
  }

  /** Runs `body` on the caller's live session as it is (tests, notebooks
    * and embedding jobs keep theirs, settings included), else on a fresh
    * certified [[graft.Session]] that it stops afterwards:
    * `$SPARK_GRAFT_CPUS` threads (default: every core), shuffle sizing
    * from the first input path, `-Dspark.master` to run elsewhere. */
  private def withSpark(flags: Flags)(body: SparkSession => Unit): Unit =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(spark) => body(spark)
      case None =>
        val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
          .getOrElse(Runtime.getRuntime.availableProcessors)
        val input = Seq("in", "prev", "target").flatMap(flags.get).headOption
        val spark = graft.Session.start(cpus, input.getOrElse(""), "cli")
        try body(spark) finally spark.stop()
    }
}
