package graft.etl

import graft.{SparkSpec, TempDirs}

class VersionedSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  test("commits are immutable snapshots; time travel reads any retained version") {
    val root = tempDir("graft_versioned") + "/t"
    assert(Versioned.commit(spark, root, Seq(1L, 2L).toDF("k")) == 0L)
    assert(Versioned.commit(spark, root, Seq(1L, 2L, 3L).toDF("k")) == 1L)
    assert(Versioned.commit(spark, root, Seq(9L).toDF("k")) == 2L)
    assert(Versioned.latestVersion(spark, root).contains(2L))
    assert(Versioned.read(spark, root).as[Long].collect().sorted.toSeq == Seq(9L))
    assert(Versioned.readVersion(spark, root, 0)
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(Versioned.readVersion(spark, root, 1)
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("vacuum drops only versions beyond the retention window") {
    val root = tempDir("graft_versioned") + "/t"
    (0 to 4).foreach(i => Versioned.commit(spark, root, Seq(i.toLong).toDF("k")))
    val dropped = Versioned.vacuum(spark, root, keepLast = 2)
    assert(dropped == Seq(0L, 1L, 2L))
    assert(Versioned.readVersion(spark, root, 3).as[Long].head() == 3L)
    assert(Versioned.read(spark, root).as[Long].head() == 4L)
    intercept[IllegalArgumentException](Versioned.readVersion(spark, root, 0))
  }

  test("idempotent commits: replayed batch ids are no-ops (exactly-once sink)") {
    val root = tempDir("graft_versioned") + "/t"
    assert(Versioned.commitIdempotent(spark, root, Seq(1L).toDF("k"), 0L))
    assert(Versioned.commitIdempotent(spark, root, Seq(2L).toDF("k"), 1L))
    // crash re-delivery of batch 1: must not double-commit or move the pointer
    assert(!Versioned.commitIdempotent(spark, root, Seq(99L).toDF("k"), 1L))
    assert(Versioned.latestVersion(spark, root).contains(1L))
    assert(Versioned.read(spark, root).as[Long].head() == 2L)
    // a gap is a bug in the caller, not silently accepted
    intercept[IllegalArgumentException](
      Versioned.commitIdempotent(spark, root, Seq(3L).toDF("k"), 5L))
  }

  test("streaming drive: foreachBatch + commitIdempotent survives replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tempDir("graft_versioned") + "/t"
    val mem = MemoryStream[Long](spark)
    def run(ckpt: String): Unit =
      mem.toDF().toDF("k").writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          Versioned.commitIdempotent(spark, root, b, id); () }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    val ckpt = tempDir("graft_versioned_ckpt")
    mem.addData(1L, 2L); run(ckpt)
    mem.addData(3L); run(ckpt)
    assert(Versioned.latestVersion(spark, root).contains(1L))
    assert(Versioned.read(spark, root).as[Long].collect().sorted.toSeq == Seq(3L))
    assert(Versioned.readVersion(spark, root, 0)
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("reading an empty table and bad retention fail loudly") {
    val root = tempDir("graft_versioned") + "/t"
    intercept[IllegalStateException](Versioned.read(spark, root))
    assert(Versioned.vacuum(spark, root, 3) == Nil)
    intercept[IllegalArgumentException](Versioned.vacuum(spark, root, 0))
  }
}
