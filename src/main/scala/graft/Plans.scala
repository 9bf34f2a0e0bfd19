package graft
import java.nio.file.{Files, Paths}

/** Optimization-round measurement tool (guide §1.2/§7.2): dump
  * `.explain("formatted")` for the named queries (or the full suite) to
  * one file per query, so plan-shape claims in OPTIMIZATION_r*.md are
  * auditable without running Spark.
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> [q_a,q_b,...]
  *
  * Runs in the certified [[Session]] through the same [[Suite]] as Bench —
  * the plans must describe the benched execution (same master/core count,
  * same split sizing, same AQE initial-partition scaling, same memo
  * lifetime), not some other session's.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val suite = new Suite("plans", sfDir, args.lift(2).map(_.split(",").toSet))
    new java.io.File(outDir).mkdirs()
    suite.run { (name, fn) =>
      val txt = fn(suite.spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
    }
    suite.close()
  }
}
