package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(name: String): String = {
    val p = s"/tmp/graft_manifest_spec_$name"
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(path, true)
    p
  }

  test("manifest records one row per file with true min/max/count") {
    val dir = freshDir("m1")
    Layout.writeSorted((1L to 1000L).toDF("k"), Seq(col("k")), dir, targetFiles = 4)
    val m = Layout.manifest(spark, dir, "k")
      .select("min_key", "max_key", "n_rows")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(m.length == 4)
    assert(m.map(_._3).sum == 1000L)
    // sorted write ⇒ disjoint, ordered ranges covering 1..1000
    assert(m.head._1 == 1L && m.last._2 == 1000L)
    m.sliding(2).foreach { case Array(a, b) => assert(a._2 < b._1); case _ => }
  }

  test("prunedRead equals the full filtered read but opens fewer files") {
    val dir = freshDir("m2")
    Layout.writeSorted((1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v"),
      Seq(col("k")), dir, targetFiles = 4)
    val pruned = Layout.prunedRead(spark, dir, "k", 100L, 150L)
    val full = spark.read.parquet(dir).where(col("k").between(100L, 150L))
    assert(pruned.select("k").as[Long].collect().sorted.toSeq ==
      full.select("k").as[Long].collect().sorted.toSeq)
    assert(pruned.inputFiles.length < spark.read.parquet(dir).inputFiles.length,
      s"expected file-level pruning, got ${pruned.inputFiles.length} files")
  }

  test("incremental manifest equals the full rebuild after an append wave") {
    val dir = freshDir("m4")
    Layout.writeSorted((1L to 500L).toDF("k"), Seq(col("k")), dir, targetFiles = 2)
    val m1 = Layout.manifest(spark, dir, "k")
    m1.write.mode("overwrite").parquet(s"${dir}_prior")
    val prior = spark.read.parquet(s"${dir}_prior")
    // append wave: two more files, disjoint key range
    (501L to 900L).toDF("k").repartition(2).write.mode("append").parquet(dir)
    val inc = Layout.manifestIncremental(spark, dir, "k", prior)
    val full = Layout.manifest(spark, dir, "k")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("min_key", "max_key", "n_rows")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(canon(inc) == canon(full))
    assert(inc.count() == 4)
    // no new files → the prior manifest comes back untouched
    assert(Layout.manifestIncremental(spark, dir, "k", inc).count() == 4)
  }

  test("prunedRead against a stored manifest prunes without re-derivation") {
    val dir = freshDir("m6")
    Layout.writeSorted((1L to 1000L).toDF("k"), Seq(col("k")), dir, targetFiles = 4)
    Layout.manifest(spark, dir, "k")
      .write.mode("overwrite").parquet(s"${dir}_manifest")
    val stored = spark.read.parquet(s"${dir}_manifest")
    val pruned = Layout.prunedRead(spark, dir, "k", 100L, 150L, stored)
    assert(pruned.select("k").as[Long].collect().sorted.toSeq == (100L to 150L))
    assert(pruned.inputFiles.length < spark.read.parquet(dir).inputFiles.length)
  }

  test("incremental manifest keeps the prior off the driver after deletes") {
    val dir = freshDir("m7")
    Layout.writeSorted((1L to 500L).toDF("k"), Seq(col("k")), dir, targetFiles = 2)
    Layout.manifest(spark, dir, "k")
      .write.mode("overwrite").parquet(s"${dir}_prior")
    val prior = spark.read.parquet(s"${dir}_prior")
    // overwrite wave: old files replaced, so the prior's rows are all dead
    (501L to 900L).toDF("k").repartition(2)
      .write.mode("overwrite").parquet(dir)
    val inc = Layout.manifestIncremental(spark, dir, "k", prior)
    val full = Layout.manifest(spark, dir, "k")
    import spark.implicits._
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("min_key", "max_key", "n_rows")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(canon(inc) == canon(full))
  }

  test("a range outside every file's bounds reads nothing") {
    val dir = freshDir("m3")
    Layout.writeSorted((1L to 100L).toDF("k"), Seq(col("k")), dir, targetFiles = 2)
    assert(Layout.prunedRead(spark, dir, "k", 5000L, 6000L).count() == 0)
  }
}
