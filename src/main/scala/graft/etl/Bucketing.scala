package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table layout — the storage-side shuffle eliminator.
  *
  * `repartition()` co-locates a join for ONE job; bucketing bakes the
  * hash-partitioning into the TABLE so every subsequent job gets the
  * co-location for free: a join or aggregation keyed on the bucket
  * column of two same-bucketed, same-count tables plans with ZERO
  * ShuffleExchangeExec (Catalyst recognizes the child distribution as
  * HashClusteredDistribution-satisfying), and `sortBy` additionally
  * removes the SortMergeJoin's per-task sort. At 100 TB this is the
  * difference between re-shuffling a fact table on every one of N
  * downstream joins and shuffling it once at write time — the pattern
  * the fact/dimension pipelines (orders ⋈ lineitem on orderkey,
  * postings ⋈ postings on term — see InvertedIndex's Scaladoc) are
  * written for.
  *
  * Knobs, and how to set them at corpus size:
  *   - `buckets`: files-per-table = buckets × written-partitions, and a
  *     downstream task reads one bucket — size buckets so a bucket is
  *     ~128–512 MB (e.g. 4096 buckets for a 1 TB table). BOTH join
  *     sides must use the same count (or a multiple, with
  *     spark.sql.bucketing.coalesceBucketsInJoin.enabled).
  *   - every bucket is sorted by the join key: the bucketed SMJ then
  *     streams pre-sorted runs (no per-task sort, no spill).
  *
  * Bucketed tables are catalog objects (`saveAsTable` — bucket metadata
  * lives in the metastore, not in parquet), so readers go through
  * `spark.table(name)`; a plain path read would scan the same files but
  * lose the distribution contract. BucketingSpec pins the zero-exchange
  * plan, the negative control (the identical unbucketed join plans 2
  * exchanges), and value-equality between the two paths. */
object Bucketing {

  /** Write `df` as a bucketed (and bucket-sorted) managed parquet table.
    * True overwrite: drops any existing table AND clears an orphaned
    * default-location directory — a fresh metastore (e.g. a new local
    * session against a reused warehouse dir) otherwise refuses the name
    * with LOCATION_ALREADY_EXISTS even under SaveMode.Overwrite. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit = {
    require(buckets > 0, s"need buckets > 0, got $buckets")
    // simple current-database names only: the warehouse/<name> path
    // derivation below is wrong for a qualified 'db.tbl' (the
    // whole-string backtick quoting would also mangle the DROP), and a
    // wrong path + recursive delete is how unrelated directories die
    // (ADVICE r11)
    require(!table.contains('.') && !table.contains('`'),
      s"writeBucketed takes a simple unqualified table name, got '$table'")
    val s = df.sparkSession
    s.sql(s"DROP TABLE IF EXISTS `$table`")
    // clear the default-location directory ONLY when it is provably an
    // orphan — the table is now absent from the catalog (just dropped or
    // never existed), so a directory at its default location can only be
    // debris from an earlier metastore (the LOCATION_ALREADY_EXISTS
    // case), never live data of a registered table
    if (!s.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)
  }

  /** Read a bucketed table back with its distribution contract intact. */
  def readBucketed(s: SparkSession, table: String): DataFrame = s.table(table)
}
