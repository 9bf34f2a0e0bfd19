package graft.etl

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** Filter stage: drop rows with nulls in any configured check column
  * (SURVEY.md §2.2 P3; reference: filtering/filter.py:170-211).
  *
  * The reference streams every parquet file in 64k batches and appends
  * surviving rows through a manual ParquetWriter; on Spark the same
  * semantics are one declarative `na.drop` whose IsNotNull conjunction
  * Catalyst pushes into the parquet scan (row groups whose statistics
  * prove a null-free column range still read, but fully-null groups
  * short-circuit). Retention counts come from an `Observation` — a single
  * pass, not the reference's per-file double bookkeeping.
  */
object FilterStage {

  /** Check-columns present in the schema; the reference warns on missing
    * ones and no-ops when none exist (filter.py:176-187). */
  def existingCheckColumns(df: DataFrame, checkCols: Seq[String]): Seq[String] =
    checkCols.filter(df.columns.contains)

  /** Drop rows with a null in any existing check column. */
  def dropNullRows(df: DataFrame, checkCols: Seq[String]): DataFrame = {
    val existing = existingCheckColumns(df, checkCols)
    if (existing.isEmpty) df else df.na.drop("any", existing)
  }

  /** Run the stage: [[read]] → [[write]]. */
  def run(spark: SparkSession, inDirs: Seq[String], outDir: String,
          checkCols: Seq[String]): (Long, Long) =
    write(read(spark, inDirs), outDir, checkCols)

  /** The stage's input, its schema from a footer
    * ([[graft.util.ParquetFooter]]) rather than a Spark job. */
  def read(spark: SparkSession, inDirs: Seq[String]): DataFrame =
    graft.util.ParquetFooter.read(spark, inDirs: _*)

  /** Filter `df` and write it to `outDir` as snappy parquet sized by
    * [[Layout.sized]], returning (rowsBefore, rowsAfter) from one observed
    * pass over the data — one Spark job. */
  def write(df: DataFrame, outDir: String,
            checkCols: Seq[String]): (Long, Long) = {
    val obs = Observation("filter_retention")
    val observed = df.observe(obs, count(lit(1)).as("rows_before"))
    val filtered = dropNullRows(observed, checkCols)
    val obsAfter = Observation("filter_kept")
    Layout.sized(filtered.observe(obsAfter, count(lit(1)).as("rows_after")))
      .write.mode("overwrite").option("compression", "snappy").parquet(outDir)
    val before = obs.get("rows_before").asInstanceOf[Long]
    val after = obsAfter.get("rows_after").asInstanceOf[Long]
    (before, after)
  }
}
