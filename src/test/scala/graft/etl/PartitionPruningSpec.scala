package graft.etl

import graft.{SparkSpec, TempDirs}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import java.nio.file.{Files => JFiles, Paths}

/** U1/S14 scale proof: a flat ∪ Hive-partitioned union query filtered on
  * partition columns must PRUNE non-matching `Year=`/`MonthYear=`
  * directories out of the scan (PartitionFilters + file count), and push
  * the same predicate into the flat scan as PushedFilters. At 100 TB this
  * is the difference between scanning one month and scanning a decade
  * (reference analogue: sampling/samplers.py:300-316 reads the whole tree
  * and filters in pandas). */
class PartitionPruningSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def mkData(yearMonths: Seq[(Long, Long)], rowsEach: Int) =
    yearMonths.zipWithIndex.flatMap { case ((y, ym), i) =>
      (1 to rowsEach).map(r => (i.toLong * 1000 + r, y, ym, r.toDouble))
    }.toDF("GlobalEventID", "Year", "MonthYear", "value")

  test("partition filters prune Year=/MonthYear= dirs; flat scan gets pushdown") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val dir = tempDir("graft_prune")
      val histDir = s"$dir/hist"
      val flatDir = s"$dir/flat"
      val months = Seq((2013L, 201301L), (2013L, 201302L), (2013L, 201303L), (2014L, 201401L))
      Convert.writeHistorical(mkData(months, 5).repartition(1), histDir, "monthly",
        graft.schema.Gdelt.partitionRules)
      // flat side: several physical files, Year carried as data
      Convert.writeFlat(mkData(months, 5).repartition(3), flatDir)

      val hist = spark.read.parquet(histDir)
        .select($"GlobalEventID", $"Year".cast("long").as("Year"),
          $"MonthYear".cast("long").as("MonthYear"), $"value")
      val flat = spark.read.parquet(flatDir)
        .select("GlobalEventID", "Year", "MonthYear", "value")
      val q = flat.unionByName(hist)
        .where($"Year" === 2013L && $"MonthYear" === 201302L)
      assert(q.collect().length == 10) // 5 flat + 5 hist (collect: metrics
      // populate on THIS plan instance; .count() would execute a new one)

      val scans = q.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec => f
      }
      assert(scans.size == 2, s"expected flat + hist scans, got ${scans.size}")
      val histScan = scans.find(_.partitionFilters.nonEmpty)
        .getOrElse(fail(s"no scan with partition filters:\n${scans.mkString("\n")}"))
      val flatScan = scans.find(_ ne histScan).get

      // pruning proof 1: the predicate reached the partition index
      val pf = histScan.partitionFilters.mkString(" ")
      assert(pf.contains("Year") && pf.contains("MonthYear"), pf)
      // pruning proof 2: exactly the matching directory's files were read
      val prunedFiles = histScan.metrics("numFiles").value
      val matchDir = Paths.get(histDir, "Year=2013", "MonthYear=201302")
      val onDisk = JFiles.list(matchDir).filter(p =>
        p.toString.endsWith(".parquet")).count()
      val allHist = JFiles.walk(Paths.get(histDir)).filter(p =>
        p.toString.endsWith(".parquet")).count()
      assert(prunedFiles == onDisk, s"scan read $prunedFiles files, dir has $onDisk")
      assert(prunedFiles < allHist, s"no pruning: read all $allHist files")

      // flat branch: same predicate arrives as data-filter pushdown
      val pushed = flatScan.toString
      assert(pushed.contains("PushedFilters") && pushed.contains("Year"),
        pushed.take(800))
    }
  }
}
