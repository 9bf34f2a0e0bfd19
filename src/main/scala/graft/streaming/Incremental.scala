package graft.streaming

import graft.etl.Convert
import graft.schema.Gdelt
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Structured Streaming extensions (SURVEY.md §2.10: the reference is
  * batch-only; its `.done`-marker incremental re-run contract maps
  * idiomatically onto `Trigger.AvailableNow` + checkpointed file sources).
  *
  * Scale shape: the file source lists only files newer than the checkpoint
  * (no re-scan of processed data), `maxFilesPerTrigger` bounds per-batch
  * memory, and the parquet sink commits exactly-once per file via the
  * checkpoint WAL — the reference's marker files, but transactional and
  * cluster-safe.
  */
object Incremental {

  /** Incremental convert: stream new raw GDELT TSV files from `inDir` into
    * a typed parquet dataset, processing only files not yet recorded in the
    * checkpoint. `Trigger.AvailableNow` drains everything currently
    * available, then stops — re-running picks up only new files
    * (converter.py:146-155's skip-on-marker, minus the markers). */
  def incrementalConvert(spark: SparkSession, inDir: String, outDir: String,
                         checkpointDir: String,
                         maxFilesPerTrigger: Int = 64): DataStreamWriter[Row] = {
    val raw = spark.readStream
      .options(Convert.RawTsvOptions)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(Gdelt.rawSchema(Gdelt.columns))
      .csv(inDir)
    Convert.coerce(raw).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
  }

  /** Streaming exact dedup on a key, with state bounded by the watermark:
    * duplicates arriving within the watermark horizon are dropped, and key
    * state is evicted once the watermark passes — the incremental-ingest
    * analogue of exact dedup (batch exact dedup would re-scan the corpus;
    * this holds only the active horizon's keys). Input must carry a
    * watermark on `tsCol`. */
  def streamingDedup(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events.dropDuplicatesWithinWatermark(keyCols)

  /** Watermarked event-time windowed counts over an events stream: counts
    * per (window, event_type), with late data beyond the watermark dropped
    * — bounded state, append-mode compatible. */
  def windowedEventCounts(events: DataFrame, windowLen: String,
                          watermarkDelay: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"))
}
