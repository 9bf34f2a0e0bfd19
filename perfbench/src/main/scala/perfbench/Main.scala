package perfbench

import graft.queries.QueryCaches
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Benchmark harness JVM, launched by `run.py` once per run. It talks back
  * through two lines on stdout, the epoch milliseconds at which the first
  * session was built (SESSION) and at which its warm-up call returned
  * (READY), and through files under `--out`: `result.json` (timed samples,
  * checks, memo and heap readings, the later set-ups) and `spans.jsonl`
  * (every recorded span).
  *
  * Load model: one Spark driver thread issues one operation at a time (a closed
  * loop with one client) against one local session with every core.
  */
object Main {
  /** Set-ups after the first, each a fresh session in this JVM. */
  val ExtraSetups = 2

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }

  def parse(args: Array[String]): Args =
    Args(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = a("cpus").toInt
    val out = a("out")
    Files.createDirectories(Paths.get(out))
    def setUp() =
      Session.start(cpus, a("sizing"), s"$out/warehouse", a("local-dir"))
    var spark = setUp()
    println(s"PERFBENCH_SESSION ${System.currentTimeMillis()}")
    Session.warmUp(spark, a("fixture"))
    println(s"PERFBENCH_READY ${System.currentTimeMillis()}")
    System.out.flush()
    val res = new Result
    // the later set-ups: stop the session, then time a fresh session and
    // its warm-up call (the first set-up's time is taken by run.py, from
    // the JVM launch)
    for (_ <- 1 to ExtraSetups) {
      spark.stop()
      QueryCaches.clear()
      val t0 = System.nanoTime()
      spark = setUp()
      Session.warmUp(spark, a("fixture"))
      res.setupS += (System.nanoTime() - t0) / 1e9
    }
    val tracer = new Tracer(spark, s"${a("workload")}-${a("seed")}")
    val ctx = Ctx(spark, tracer, res, cpus, a("seed").toLong,
      a("seconds").toDouble, a("trace") == "1", out, a("fixture"))
    try a("workload") match {
      case "gdelt_pipeline" => Pipeline.run(ctx, a("corpus"))
      case "query_session" => QuerySession.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch { case t: Throwable =>
      res.check("workload completed", ok = false,
        s"${t.getClass.getSimpleName}: ${t.getMessage}")
      t.printStackTrace()
    }
    tracer.setEngine(false)
    res.env("cpus") = cpus
    res.env("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    res.env("load_1m") = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    Json.write(s"$out/result.json", res.toJson)
    Json.writeSpans(s"$out/spans.jsonl", tracer.runId, tracer.spans.toSeq)
    spark.stop()
  }

  /** CPU seconds this JVM has used, all threads. */
  def cpuS(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  /** Old-generation occupancy after a full collection, in MB — the live
    * set the program holds, repeatable where a raw heap reading is not. */
  def heapAfterGcMb(): Double = {
    import scala.jdk.CollectionConverters._
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.toLowerCase.contains("old"))
      .flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed / 1048576.0).sum
  }
}

final case class Ctx(spark: SparkSession, tracer: Tracer, res: Result,
                     cpus: Int, seed: Long, seconds: Double, trace: Boolean,
                     out: String, fixture: String) {
  /** Timed repetitions of a workload's part: `perTenSeconds` at the
    * contract's 10 s, scaled with `--seconds`. The count depends on the
    * arguments only, never on how fast the host is, so every run's medians
    * are over the same number of samples. */
  def reps(perTenSeconds: Int): Int =
    math.max(1, math.round(perTenSeconds * seconds / 10).toInt)

  /** Untimed measurement points (heap) are taken outside every span. */
  def heap(): Unit = res.heapMb += Main.heapAfterGcMb()
}

/** One timed operation. `cold` marks the workload's first-use part;
  * `family` is the query family ("" for pipeline stages). */
final case class Timed(name: String, family: String, s: Double, pass: Int,
                       traced: Boolean, cold: Boolean)

/** One timed pass over a workload's operations, with its units of work and
  * the CPU seconds the JVM spent in it. */
final case class Pass(pass: Int, wall: Double, work: Double, traced: Boolean,
                      cold: Boolean, cpu: Double)

/** What a run reports back to run.py. */
final class Result {
  val timed = mutable.ArrayBuffer.empty[Timed]
  val passes = mutable.ArrayBuffer.empty[Pass]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val heapMb = mutable.ArrayBuffer.empty[Double]
  val setupS = mutable.ArrayBuffer.empty[Double]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val env = mutable.LinkedHashMap.empty[String, Double]
  val dumps = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += ((name, ok, detail))
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    }
  }
  def add(k: String, v: Double): Unit =
    counters(k) = counters.getOrElse(k, 0.0) + v

  def toJson: org.json4s.JValue = {
    import org.json4s.JsonDSL._
    ("timed" -> timed.map(t => ("name" -> t.name) ~ ("family" -> t.family) ~
      ("s" -> t.s) ~ ("pass" -> t.pass) ~ ("traced" -> t.traced) ~
      ("cold" -> t.cold))) ~
    ("passes" -> passes.map(p => ("pass" -> p.pass) ~ ("wall_s" -> p.wall) ~
      ("work" -> p.work) ~ ("traced" -> p.traced) ~ ("cold" -> p.cold) ~
      ("cpu_s" -> p.cpu))) ~
    ("checks" -> checks.map { case (n, ok, d) =>
      ("name" -> n) ~ ("ok" -> ok) ~ ("detail" -> d) }) ~
    ("heap_mb" -> heapMb) ~ ("setup_s" -> setupS) ~
    ("counters" -> counters.toMap) ~ ("env" -> env.toMap) ~
    ("families" -> QuerySession.Families) ~ ("dumps" -> dumps) ~
    ("attempted" -> attempted) ~ ("failed" -> failed)
  }
}

/** The session settings graft.Bench certifies, with the warehouse, shuffle
  * and spill directories kept inside the benchmark's own output tree. */
object Session {
  def start(cpus: Int, sizingDir: String, warehouse: String,
            localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "524288")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", localDir)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.util.PartitionSizing.initialPartitions(sizingDir, cpus).toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The flagship call `graft.SparkEntry.entry` makes (DSL filter →
    * projection → stratified exact-k sample), on the benchmark's fixture. */
  def warmUp(spark: SparkSession, fixture: String): Unit =
    graft.queries.ParityQueries.queries("q_sample_filtered_strat")(
      spark, fixture).count()
}

/** Memo-layer ledger read from outside: `QueryCaches.sharedBuilds` holds
  * cumulative build seconds per memo key, so a key whose seconds grew
  * during an operation was built (or rebuilt) by it. */
final class MemoLedger {
  private var last = QueryCaches.sharedBuilds
  private val everBuilt = mutable.Set(last.keys.toSeq: _*)

  /** (builds, rebuilds, build seconds) since the previous call. */
  def delta(): (Int, Int, Double) = {
    val now = QueryCaches.sharedBuilds
    val grown = now.filter { case (k, v) => v > last.getOrElse(k, 0.0) }
    val secs = grown.map { case (k, v) => v - last.getOrElse(k, 0.0) }.sum
    val rebuilds = grown.keys.count(everBuilt.contains)
    everBuilt ++= grown.keys
    last = now
    (grown.size, rebuilds, secs)
  }
}

object Fs {
  def rm(path: String): Unit = graft.util.Scratch.deleteRecursively(path)
  def ls(dir: String): Seq[java.nio.file.Path] = {
    val s = Files.list(Paths.get(dir))
    try { import scala.jdk.CollectionConverters._; s.iterator.asScala.toSeq }
    finally s.close()
  }
  /** Data files (not markers or checksums) under a directory tree. */
  def dataFiles(dir: String): Seq[java.nio.file.Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else {
      val s = Files.walk(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")).toSeq
      } finally s.close()
    }
}

/** result.json and spans.jsonl, written with json4s. */
object Json {
  import org.json4s._
  import org.json4s.JsonDSL._
  import org.json4s.jackson.JsonMethods.{compact, render}

  def write(path: String, j: JValue): Unit =
    Files.writeString(Paths.get(path), compact(render(j)))

  def writeSpans(path: String, runId: String, spans: Seq[Span]): Unit =
    Files.writeString(Paths.get(path), spans.sortBy(s => (s.start, s.id))
      .map(s => compact(render(("run" -> runId) ~ ("id" -> s.id) ~
        ("parent" -> s.parent) ~ ("name" -> s.name) ~ ("kind" -> s.kind) ~
        ("start" -> s.start) ~ ("end" -> s.end) ~
        ("attrs" -> s.attrs.toMap))))
      .mkString("", "\n", "\n"))
}
