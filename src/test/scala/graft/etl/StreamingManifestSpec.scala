package graft.etl

import graft.{SparkSpec, TempDirs}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming ingest keeps the file-skipping manifest fresh: a
  * foreachBatch writer appends parquet and re-derives Layout.manifest
  * after each micro-batch — the table-format discipline (data + index
  * updated together) composed from the shipped pieces. */
class StreamingManifestSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  test("manifest tracks every appended file across micro-batches") {
    val dir = tempDir("graft_stream_manifest")
    val data = s"$dir/t"
    val mem = MemoryStream[Long](spark)
    def run(): Unit =
      mem.toDF().toDF("k").writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(data)
          Layout.manifest(spark, data, "k")
            .write.mode("overwrite").parquet(s"$dir/m")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()

    mem.addData(1L to 100L: _*); run()
    mem.addData(101L to 200L: _*); run()

    val m = spark.read.parquet(s"$dir/m")
    val files = spark.read.parquet(data).inputFiles.toSet
    val indexed = m.select("file").as[String].collect()
      .map(f => f.stripPrefix("file://")).toSet
    assert(indexed.map(f => f.split('/').last) ==
      files.map(f => f.stripPrefix("file:").split('/').last),
      "manifest rows must cover exactly the data files on disk")
    assert(m.agg(org.apache.spark.sql.functions.sum("n_rows"))
      .head().getLong(0) == 200L)
    // the index stays usable for range pruning over the streamed table
    val pruned = Layout.prunedRead(spark, data, "k", 150L, 160L)
    assert(pruned.select("k").as[Long].collect().sorted.toSeq ==
      (150L to 160L).toSeq)
  }
}
