package graft
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only; the driver passes two):
    // comma-separated query names to dump instead of the full suite
    val suite = new Suite("verify", sfDir, args.lift(2).map(_.split(",").toSet))
    new java.io.File(outDir).mkdirs()
    suite.run { (name, fn) =>
      fn(suite.spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
    }
    suite.close()
    // json4s escapes quotes, backslashes and every control char — a tab or
    // CR in oracle SQL must never make a reader's json.load fail and
    // silently zero the round's correctness
    def write(file: String, kv: Iterable[(String, String)]): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"),
        compact(render(JObject(kv.map { case (k, v) => k -> JString(v) }.toList))))
    write("oracle_sql.json", SparkEntry.oracleSql)
    // Per-query status ledger: a query that fails ANALYSIS writes no parquet
    // dir at all, and a checker that only globs output dirs would silently
    // skip it (the round-6 fixture break shipped exactly this way). The
    // ledger makes absence itself an auditable failure.
    write("verify_status.json",
      suite.queries.map { case (n, _) => n -> suite.errors.getOrElse(n, "ok") })
    val failed = suite.errors.keys
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] FAILED ${failed.size}/${suite.queries.size}: ${failed.mkString(", ")}")
    else
      System.err.println(s"[verify] all ${suite.queries.size} queries dumped ok")
  }
}
