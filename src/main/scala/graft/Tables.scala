package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness tables (TESTDATA.md / FIXTURES.md §A).
  *
  * Every table is one parquet path under the scale-factor dir; reads go
  * through `spark.read.parquet` so Catalyst owns column pruning, predicate
  * pushdown, and (for partitioned layouts) partition pruning. At cluster
  * scale the same call reads a many-file dataset — nothing here assumes a
  * single file.
  */
object Tables {
  // Schema memo per (sfDir, table): a bare `spark.read.parquet` re-infers
  // the schema from file footers for EVERY call, and a suite run issues
  // thousands of them over the same immutable fixture files. Passing the
  // known schema is the standard production discipline (explicit schemas
  // skip the footer-listing round trip); values are unchanged because the
  // schema IS the inferred one, computed once — from one footer on the
  // driver (graft.util.ParquetFooter), without Spark's one-task schema
  // job, falling back to Spark's inference where no footer is read.
  private val schemaMemo = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.types.StructType]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaMemo.getOrElseUpdate(path,
      graft.util.ParquetFooter.schema(spark, Seq(path))
        .getOrElse(spark.read.parquet(path).schema))
    spark.read.schema(schema).parquet(path)
  }

  /** `events.ts` has shipped under two physical encodings, so this loader is
    * schema-adaptive instead of hard-coding either one:
    *
    *  - INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false) — the current fixture.
    *    Spark reads it as TimestampNTZType; under the UTC session timezone a
    *    cast to TimestampType is a wall-clock-preserving reinterpretation,
    *    which is exactly what DuckDB's `CAST(ts AS TIMESTAMP)` oracle sees.
    *  - parquet TIMESTAMP(NANOS) — the original fixture. Spark 4 rejects it
    *    unless read as epoch-nanos long, then truncated to micros. `DIV`
    *    keeps the arithmetic integral — a double division would lose
    *    precision above 2^53 ns.
    *
    * Either way callers get a plain TimestampType(micros) `ts` column. The
    * nanos read needs `spark.sql.legacy.parquet.nanosAsLong=true`, a row of
    * [[Session]]'s table; this loader leaves the session's conf alone. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case _: TimestampType    => raw
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _: LongType         => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other (expected TIMESTAMP, TIMESTAMP_NTZ, or INT64 nanos)")
    }
  }
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
